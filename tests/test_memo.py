"""memo: the engine's one bounded, fingerprint-guarded store of build-time
values (expressions, scan handles, plans)."""

from __future__ import annotations

import ast
import shutil
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from kaspi_etl_spark import memo, registry
from kaspi_etl_spark.llm import dedup

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))
import check_oracle  # noqa: E402


def _private_copy(sf_dir, tmp_path, table):
    """A snapshot dir whose ``table`` is a private copy (the rest symlinked)."""
    for t in check_oracle.TABLES:
        if t != table:
            (tmp_path / f"{t}.parquet").symlink_to(Path(sf_dir) / f"{t}.parquet")
    path = tmp_path / f"{table}.parquet"
    shutil.copyfile(Path(sf_dir) / f"{table}.parquet", path)
    return path


def test_scan_and_plan_follow_a_table_grown_in_place(spark, sf_dir, tmp_path):
    path = _private_copy(sf_dir, tmp_path, "orders")
    d = str(tmp_path)
    base = pq.read_table(path)
    n = base.num_rows
    assert registry._read(spark, d, "orders").count() == n
    assert registry.orders_kaspi(spark, d).count() == n
    registry.QUERIES["daily_net_revenue"](spark, d).collect()

    span = pc.max(base["o_orderkey"]).as_py() + 1
    copies = [
        base.set_column(0, "o_orderkey", pc.add(base["o_orderkey"], pa.scalar(k * span, pa.int64())))
        for k in range(3)
    ]
    assert base.column_names[0] == "o_orderkey"
    pq.write_table(pa.concat_tables(copies), path, row_group_size=n)  # in place, 3 row groups
    assert pq.ParquetFile(path).num_row_groups == 3

    assert registry._read(spark, d, "orders").count() == 3 * n
    assert registry.orders_kaspi(spark, d).count() == 3 * n
    con = check_oracle.duck_con(d)
    sdf = registry.QUERIES["daily_net_revenue"](spark, d)
    result = check_oracle.compare("daily_net_revenue", sdf, con)
    assert result["status"] == "OK", result


def test_unchanged_tables_hit_and_new_sessions_get_their_own(spark, sf_dir):
    scan = registry._read(spark, sf_dir, "orders")
    plan = registry.orders_kaspi(spark, sf_dir)
    assert registry._read(spark, sf_dir, "orders") is scan
    assert registry.orders_kaspi(spark, sf_dir) is plan

    other = spark.newSession()
    scan2 = registry._read(other, sf_dir, "orders")
    plan2 = registry.orders_kaspi(other, sf_dir)
    assert scan2 is not scan and plan2 is not plan
    assert scan2.sparkSession is other and plan2.sparkSession is other
    assert registry.orders_kaspi(other, sf_dir) is plan2
    assert registry.orders_kaspi(spark, sf_dir) is plan


def test_plan_guard_is_the_tables_its_build_read(spark, sf_dir):
    registry.llm_docs(spark, sf_dir)
    key = (spark, "plan", "llm_docs", sf_dir)
    _, guard = memo._ENTRIES[key]
    assert [p for p, _ in guard] == [f"{sf_dir}/documents.parquet"]
    assert guard[0][1] == memo.fingerprint(spark, f"{sf_dir}/documents.parquet")


def test_memo_stays_bounded_and_keeps_an_entry_in_use():
    memo._ENTRIES.clear()
    builds = []

    def table():
        builds.append(1)
        return object()

    lut = memo.get(("test-constant",), table)
    for i in range(3 * memo.MAX_ENTRIES):
        assert memo.get(("test-key", i), object) is not None
        assert memo.get(("test-constant",), table) is lut
        assert len(memo._ENTRIES) <= memo.MAX_ENTRIES
    assert len(memo._ENTRIES) == memo.MAX_ENTRIES
    assert builds == [1]
    memo._ENTRIES.clear()


def test_digest_keys_are_fixed_size_and_exact():
    a = memo.digest(tuple(float(i) for i in range(4096)))
    assert len(a) == 16
    assert memo.digest((0.1, 0.2)) != memo.digest((0.1, 0.2000000000000001))
    assert memo.digest((0.0,)) != memo.digest((-0.0,))


def test_minhash_signature_cache_hits_and_values(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v"), (4, None)],
        "doc_id long, text string",
    )
    first = dedup.minhash_signature(docs, num_hashes=4).collect()
    key = ("minhash_sig", 4, 3)
    assert key in memo._ENTRIES  # populated by the first call
    cached_obj = memo._ENTRIES[key][0]
    second = dedup.minhash_signature(docs, num_hashes=4).collect()
    assert memo._ENTRIES[key][0] is cached_obj  # reused, not rebuilt
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))
    rows = {r["doc_id"]: r for r in first}
    # identical docs share every signature component; NULL text -> NULL sig
    assert tuple(rows[1])[1:] == tuple(rows[2])[1:]
    assert all(v is None for v in tuple(rows[4])[1:])


def test_minhash_pairs_band_cache_and_determinism(spark):
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(4)]
        + [(9, "completely different words entirely here now")],
        "doc_id long, text string",
    )
    p1 = dedup.minhash_near_dup_pairs(docs, num_hashes=8, bands=2)
    got1 = sorted((r["id_a"], r["id_b"]) for r in p1.collect())
    key = ("minhash_band", 8, 2)
    cached_obj = memo._ENTRIES[key][0]
    p2 = dedup.minhash_near_dup_pairs(docs, num_hashes=8, bands=2)
    got2 = sorted((r["id_a"], r["id_b"]) for r in p2.collect())
    assert memo._ENTRIES[key][0] is cached_obj  # reused, not rebuilt
    assert got1 == got2
    # the four identical docs must all pair up; the outlier must not
    assert set(got1) == {(a, b) for a in range(4) for b in range(4) if a < b}


# Module-level stores that are not caches: the query registry itself.
_NOT_CACHES = {("registry.py", "QUERIES"), ("registry.py", "ORACLES")}
_EMPTY_STORES = {"dict", "OrderedDict", "WeakKeyDictionary", "WeakValueDictionary"}


def _empty_store(node) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.Call) and not node.args and not node.keywords:
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        return name in _EMPTY_STORES
    return False


def _module_level(body):
    """Statements run at import: the module body and the blocks of its
    if/try/with/for statements, not function or class bodies."""
    for node in body:
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            for field in ("body", "orelse", "finalbody", "handlers"):
                yield from _module_level(getattr(node, field, []))


def test_no_module_level_cache_outside_the_memo():
    pkg = ROOT / "kaspi_etl_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "memo.py":
            continue
        for node in _module_level(ast.parse(path.read_text()).body):
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            if not _empty_store(value):
                continue
            for t in targets:
                name = getattr(t, "id", None)
                if (rel, name) not in _NOT_CACHES:
                    found.append(f"{rel}:{node.lineno} {name}")
    assert found == [], f"module-level cache outside memo.py: {found}"
