"""The benchmark's own reference computations.

Written from the engine's documented contracts, not from its code:

- :class:`LwwReplay` replays feed envelopes into a dict under last-writer-
  wins on ``(commit, offset)``: duplicate delivery is a no-op, a delete
  leaves a tombstone that only a newer version can overturn, the higher
  offset wins within one commit, events with no usable PK or an
  unparseable payload go to the dead-letter list, and a column that
  appears mid-feed is NULL in rows whose winning event predates it.
- :func:`jaccard` is exact Jaccard over lowercased 5-character shingles of
  the first 256 characters.
- :func:`cosine_topk` is brute-force cosine top-k in numpy.
"""

from __future__ import annotations

import json

import numpy as np

SHINGLE_K = 5
SHINGLE_PREFIX = 256


class LwwReplay:
    """State keyed by the PK tuple; ``pk`` names the PK columns in order."""

    def __init__(self, pk: list[str], columns: list[str]):
        self.pk = list(pk)
        self.columns = list(columns)
        #: key -> (version, deleted, row)
        self.state: dict = {}
        self._seen: set = set()
        #: offsets of dead-lettered deliveries, one entry per delivery
        self.dlq: list[int] = []

    def apply(self, env: dict) -> str:
        """Apply one delivered envelope; returns what happened to it."""
        try:
            data = json.loads(env["payload"])
        except (TypeError, ValueError):
            data = None
        if not isinstance(data, dict):
            self.dlq.append(env["offset"])
            return "dlq"
        key = tuple(data.get(c) for c in self.pk)
        if any(v is None or v == "" for v in key):
            self.dlq.append(env["offset"])
            return "dlq"
        ver = (env["commit"], env["offset"])
        if (key, ver) in self._seen:
            return "duplicate"
        self._seen.add((key, ver))
        cur = self.state.get(key)
        if cur is not None and cur[0] >= ver:
            return "stale"
        if env["op"] == "d":
            self.state[key] = (ver, True, None)
            return "delete"
        row = {c: data.get(c) for c in self.columns}
        # the envelope's commit is injected under the payload (payload
        # wins when it carries one)
        if row.get("commit") is None:
            row["commit"] = env["commit"]
        self.state[key] = (ver, False, row)
        return "upsert"

    def apply_all(self, envs) -> None:
        for e in envs:
            self.apply(e)

    def live(self) -> dict:
        """PK tuple -> row of every live key."""
        return {k: r for k, (_, dead, r) in self.state.items() if not dead}


def shingles(text: str) -> set[str]:
    t = text[:SHINGLE_PREFIX].lower()
    return {t[i:i + SHINGLE_K] for i in range(len(t) - SHINGLE_K + 1)}


def jaccard(a: str, b: str) -> tuple[float, int]:
    """``(exact Jaccard, |union|)`` of the two texts' shingle sets."""
    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return (len(sa & sb) / union if union else 0.0), union


def cosine(a, b) -> float:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    den = np.linalg.norm(a) * np.linalg.norm(b)
    return float(a @ b / den) if den else float("nan")


def cosine_topk(ids, vectors, query_ids, k: int) -> dict:
    """Brute force: query id -> [(neighbour id, cosine)] best first (ties
    by smaller id), the query itself excluded."""
    ids = np.asarray(ids)
    m = np.asarray(vectors, dtype=np.float64)
    unit = m / np.linalg.norm(m, axis=1, keepdims=True)
    pos = {int(i): j for j, i in enumerate(ids)}
    out = {}
    for q in query_ids:
        sims = unit @ unit[pos[int(q)]]
        order = sorted((j for j in range(len(ids)) if ids[j] != q),
                       key=lambda j: (-sims[j], ids[j]))[:k]
        out[int(q)] = [(int(ids[j]), float(sims[j])) for j in order]
    return out
