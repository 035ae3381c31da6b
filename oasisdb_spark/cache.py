"""Search-result cache (Q13 parity, made semantically safe).

Reference: internal/cache/lru_cache.go:12-84 — an LRU over
sha256(collection + json(vector) + limit) → search response, consulted
in the search handler (internal/server/handlers.go:18-28,46-54). The
reference's cache is UNSAFE: only deletes invalidate (handlers.go:
251-255, 132-136); upserts leave stale hits (SURVEY.md Q13 note —
"do not replicate the bug").

This implementation keys every entry on the collection's
``index_version`` (the catalog's monotone build counter), so a rebuild
invalidates all prior entries for that collection implicitly. Writes
that keep the version — upserts (add_to_index appends to the built
lists), document deletes, set_params and collection deletes — drop the
collection's entries explicitly through ``invalidate_prefix``
(OasisClient does this on each such call), so a search after an
acknowledged write never returns a pre-write result.

Scale note: a driver-side result cache only pays off for repeated
point queries (the reference's REST serving pattern). Batch plans
should instead persist/reuse DataFrames; this module is deliberately
tiny and driver-local, mirroring the reference's 10-entry default
(internal/config/config.go:46).
"""

from __future__ import annotations

import hashlib
import json
from collections import OrderedDict
from typing import Any

__all__ = ["SearchCache"]

DEFAULT_CAPACITY = 10  # conf.yaml:7 / config.go:46


class SearchCache:
    """LRU over (collection, index_version, query payload, k)."""

    def __init__(self, capacity: int = DEFAULT_CAPACITY):
        if capacity <= 0:
            raise ValueError("capacity must be positive")
        self.capacity = capacity
        self._d: OrderedDict[str, Any] = OrderedDict()
        self.hits = 0
        self.misses = 0

    @staticmethod
    def key(collection: str, index_version: int, payload: Any, k: int) -> str:
        """sha256 over the same fields as handlers.go:18-28, plus the
        index_version that makes staleness impossible."""
        raw = json.dumps(
            [collection, index_version, payload, k], separators=(",", ":"), sort_keys=True
        )
        return f"{collection}:{hashlib.sha256(raw.encode()).hexdigest()}"

    def get(self, key: str):
        if key not in self._d:
            self.misses += 1
            return None
        self._d.move_to_end(key)
        self.hits += 1
        return self._d[key]

    def put(self, key: str, value: Any) -> None:
        if key in self._d:
            self._d.move_to_end(key)
        self._d[key] = value
        while len(self._d) > self.capacity:
            self._d.popitem(last=False)

    def invalidate_prefix(self, collection: str) -> int:
        """Drop every entry of one collection (lru_cache.go:62-84)."""
        doomed = [k for k in self._d if k.startswith(f"{collection}:")]
        for k in doomed:
            del self._d[k]
        return len(doomed)

    def clear(self) -> None:
        self._d.clear()

    def __len__(self) -> int:
        return len(self._d)
