"""Seeded benchmark inputs, made with pyarrow and numpy alone (no Spark).

Batch snapshots follow ``tools/make_sf1.py``: a snapshot is ``copies``
copies of the base tables in ``perfbench/base`` (the sf0.001 tables).
Each copy shifts every key family by the same offset on both sides of
every foreign key, so joins see disjoint, internally consistent universes
and per-key fan-outs stay those of the base. The seed chooses the key
offsets, the vowel permutation applied to each copy's document text and
the cyclic rotation applied to each copy's embeddings. Content stays with
its id, so near-duplicate structure, and with it the work of iterative
operators such as connected components, is the same for every seed.
``region`` and ``nation`` stay fixed.

Price-watch ticks are NDJSON snapshots: every (variant, seller) pair
quotes one price per tick, all with the tick's timestamp.
"""

from __future__ import annotations

import itertools
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = Path(__file__).resolve().parent / "base"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Offset per key family, as in tools/make_sf1.py. Each is a multiple of a
# power of ten, so residues that queries derive from keys (user_id % 20
# is the price-watch variant) keep their base distribution.
SHIFTS = {
    "customer": {"c_custkey": 10_000_000},
    "supplier": {"s_suppkey": 1_000_000},
    "part": {"p_partkey": 10_000_000},
    "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
    "lineitem": {
        "l_orderkey": 100_000_000,
        "l_partkey": 10_000_000,
        "l_suppkey": 1_000_000,
    },
    "events": {"event_id": 100_000_000, "user_id": 10_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
}

# (child table, child column, parent table, parent column)
FOREIGN_KEYS = [
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
]

VOWEL_PERMS = ["".join(p) for p in itertools.permutations("aeiou")]
MAX_COPIES = 60


def copy_plan(seed: int, copies: int) -> list[dict[str, int]]:
    """The seed's choices for each copy: key offset multiplier, vowel
    permutation and embedding rotation. Copies never share a choice, so
    their content is distinct."""
    if not 1 <= copies <= MAX_COPIES:
        raise ValueError(f"copies must be in 1..{MAX_COPIES}, got {copies}")
    rng = np.random.default_rng(seed)
    start = int(rng.integers(0, 16))
    perms = rng.permutation(len(VOWEL_PERMS))[:copies]
    rotations = rng.permutation(64)[:copies]
    return [
        {"shift": start + i, "vowels": int(perms[i]), "rotation": int(rotations[i])}
        for i in range(copies)
    ]


def _rotate(embeddings: pa.ChunkedArray, r: int) -> pa.Array:
    flat = embeddings.combine_chunks()
    width = len(flat[0])
    values = flat.flatten().to_numpy(zero_copy_only=False).reshape(-1, width)
    rotated = np.roll(values, -r, axis=1).astype(np.float32)
    offsets = pa.array(np.arange(0, len(values) * width + 1, width, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(rotated.ravel()), type=flat.type)


def _copy(table: pa.Table, name: str, choice: dict[str, int]) -> pa.Table:
    for col, off in SHIFTS.get(name, {}).items():
        i = table.schema.get_field_index(col)
        shifted = pc.add(table[col], pa.scalar(choice["shift"] * off, table[col].type))
        table = table.set_column(i, table.schema.field(i), shifted)
    if name == "documents":
        perm = VOWEL_PERMS[choice["vowels"]]
        vowels = str.maketrans("aeiou", perm)
        text = pa.array([t.translate(vowels) for t in table["text"].to_pylist()], pa.string())
        i = table.schema.get_field_index("text")
        table = table.set_column(i, table.schema.field(i), text)
    if name == "embeddings" and choice["rotation"]:
        i = table.schema.get_field_index("embedding")
        table = table.set_column(
            i, table.schema.field(i), _rotate(table["embedding"], choice["rotation"])
        )
    return table


def make_snapshot(out_dir: Path, seed: int, copies: int) -> dict[str, int]:
    """Write one snapshot into ``out_dir``, which must not exist yet: a
    path the program has read is never rewritten. Returns rows per table."""
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=False)
    plan = copy_plan(seed, copies)
    rows = {}
    for name in TABLES:
        base = pq.read_table(BASE_DIR / f"{name}.parquet")
        if name in SHIFTS:
            table = pa.concat_tables([_copy(base, name, c) for c in plan])
        else:
            table = base
        pq.write_table(table, out_dir / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows


def orphan_counts(snapshot_dir: Path) -> dict[str, int]:
    """Child rows whose foreign key has no parent row, per foreign key."""
    cols = {}
    for child, ccol, parent, pcol in FOREIGN_KEYS:
        for t, c in ((child, ccol), (parent, pcol)):
            if (t, c) not in cols:
                cols[t, c] = pq.read_table(Path(snapshot_dir) / f"{t}.parquet", columns=[c])[c]
    out = {}
    for child, ccol, parent, pcol in FOREIGN_KEYS:
        keys = cols[child, ccol].cast(pa.int64())
        found = pc.is_in(keys, value_set=cols[parent, pcol].cast(pa.int64()).combine_chunks())
        out[f"{child}.{ccol}"] = int(pc.sum(pc.invert(found)).as_py() or 0)
    return out


# --- price-watch ticks ------------------------------------------------------

TICK_EPOCH_S = 1_767_225_600  # 2026-01-01T00:00:00Z


def tick_rows(seed: int, tick: int, variants: int, sellers: int) -> list[tuple[str, str, int, int]]:
    """One tick: (variantId, seller, ts_epoch_s, price) for every pair.

    Each variant has a seeded list price, and sellers quote up to 40 below
    and 159 above it, so about a quarter of the quotes fall within the
    undercut margin of the tick's minimum. 1% of quotes are 0 (price
    missing)."""
    base = np.random.default_rng([seed, 0]).integers(5_000, 200_000, size=variants)
    rng = np.random.default_rng([seed, 1, tick])
    spread = rng.integers(-40, 160, size=(variants, sellers))
    missing = rng.random((variants, sellers)) < 0.01
    prices = np.where(missing, 0, base[:, None] + spread)
    ts = TICK_EPOCH_S + tick
    return [
        (f"v{v:04d}", f"s{s:02d}", ts, int(prices[v, s]))
        for v in range(variants)
        for s in range(sellers)
    ]


def write_tick(path: Path, rows: list[tuple[str, str, int, int]]) -> None:
    """NDJSON in the ``schemas.PRICE_WATCH_EVENTS`` layout."""
    with open(path, "w") as f:
        for variant, seller, ts, price in rows:
            f.write(
                json.dumps(
                    {
                        "ts": _iso(ts),
                        "masterProductId": variant[:3],
                        "variantId": variant,
                        "seller": seller,
                        "price": price,
                    }
                )
                + "\n"
            )


def _iso(epoch_s: int) -> str:
    return np.datetime_as_string(np.datetime64(epoch_s, "s"), unit="s") + "Z"
