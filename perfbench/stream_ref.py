"""Pure-Python reference for the price-watch flags (price_watch.ts:31-52).

Per tick and variant, the tick's minimum positive price sets the undercut
line; each (variant, seller) keeps a ring buffer of its last 5 undercut
bits, and a seller is flagged when at least 3 of them are set."""

from __future__ import annotations

from collections import deque

UNDERCUT_MARGIN = 50
WINDOW_TICKS = 5
FLAG_THRESHOLD = 3


class PriceWatchReference:
    def __init__(self) -> None:
        self._buffers: dict[tuple[str, str], deque[int]] = {}

    def tick(self, rows: list[tuple[str, str, int, int]]) -> list[tuple[str, str, int, int, bool]]:
        """Feed one tick of (variantId, seller, ts, price) rows, each pair
        at most once; return (variantId, seller, ts, price, isPriceBot)."""
        vmin: dict[str, int] = {}
        for variant, _, _, price in rows:
            if price > 0 and (variant not in vmin or price < vmin[variant]):
                vmin[variant] = price
        out = []
        for variant, seller, ts, price in rows:
            line = vmin.get(variant)
            undercut = int(line is not None and 0 < price <= line + UNDERCUT_MARGIN)
            buf = self._buffers.setdefault((variant, seller), deque(maxlen=WINDOW_TICKS))
            buf.append(undercut)
            out.append((variant, seller, ts, price, sum(buf) >= FLAG_THRESHOLD))
        return out
