"""Seeded input generators, written for the benchmark alone.

Nothing here uses ``cds_spark.sources.feed``: a change to the library's
own generator cannot change a workload. The same seed always yields the
same bytes.

The change feed follows the repo's documented target shape (FIXTURES.md
F1/F2): the ``repositories`` table, PK ``(repo, path)``, columns ``repo,
path, commit, lang, content``, hot-repo skew. Its rates are those of the
engine's documented feed shape, ``cds_spark.sources.feed.change_feed``
with its default arguments, re-implemented here (see the constants).
Each event is one JSON line of the engine's file-feed envelope: ``op``
(c/u/d), ``commit`` (zero-padded counter, the leading LWW version
column), ``offset`` (unique per event, the tiebreak), ``payload`` (the
after-image as a JSON string; key-only for deletes) and ``partition``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import string
import zlib

#: the primary key and the columns of the target table (FIXTURES.md F1);
#: ``commit`` is also injected from the envelope
PK = ["repo", "path"]
FEED_COLUMNS = ["repo", "path", "commit", "lang", "content"]
#: the payload column that appears part-way through a feed (FIXTURES.md
#: F3, new column); where it appears is the workload's choice
LATE_COLUMN = "license"
LICENSES = ["mit", "apache-2.0", "gpl-3.0", "bsd-3-clause"]

# -- rates of ``change_feed``'s defaults (cds_spark/sources/feed.py) --
N_REPOS = 100
PATHS_PER_REPO = 200
#: repo = floor(N_REPOS * u ** REPO_SKEW): repo 0 takes 21.5 % of events,
#: repos 0-4 take 37 %
REPO_SKEW = 3.0
#: create / update shares; the rest are deletes
CREATE_SHARE, UPDATE_SHARE = 0.20, 0.70
EVENTS_PER_COMMIT = 1000
#: share of well-formed events delivered twice (same offset)
DUP_SHARE = 0.05
N_PARTITIONS = 8
LANGS = ["py", "go", "rs", "md", "js", "c", "java"]
#: content = "repo path commit" + 1..8 copies of a 64-char hex chunk
MAX_CHUNKS = 8
# -- not in the documented shape, so chosen here --
#: share of malformed events (FIXTURES.md F2 routes a missing PK to the
#: DLQ but gives no rate)
BAD_SHARE = 0.005


class ChangeFeed:
    """A seeded CDC event stream over the ``(repo, path)`` key space.

    - the repo follows the power law :data:`REPO_SKEW` (repo 0 hottest),
      the path is uniform over :data:`PATHS_PER_REPO`;
    - op mix :data:`CREATE_SHARE` / :data:`UPDATE_SHARE` / rest deletes;
      a delete followed later by a create/update of the same key is a
      re-insert;
    - :data:`EVENTS_PER_COMMIT` consecutive offsets share one commit, so
      the offset tiebreak decides between same-commit events of one key;
    - :data:`DUP_SHARE` of well-formed events are delivered twice (same
      offset, at the end of the same file);
    - :data:`BAD_SHARE` of events are malformed, alternating between a
      payload without the PK and a payload that is not valid JSON;
    - from event number ``late_from`` on, c/u payloads carry
      :data:`LATE_COLUMN`.
    """

    def __init__(self, seed: int, late_from: int):
        self.rng = random.Random(seed)
        self.seed = seed
        self.late_from = late_from
        self.offset = 0

    def commit_of(self, offset: int) -> str:
        return f"{offset // EVENTS_PER_COMMIT:012d}"

    def _key(self) -> tuple[str, str]:
        repo = min(N_REPOS - 1, int(N_REPOS * self.rng.random() ** REPO_SKEW))
        p = self.rng.randrange(PATHS_PER_REPO)
        return f"org/repo-{repo}", f"src/dir-{p % 20}/file-{p}.txt"

    def row_payload(self, key: tuple[str, str], commit: str,
                    with_late: bool) -> dict:
        repo, path = key
        chunk = hashlib.sha256(
            f"{repo}|{path}|{commit}|{self.seed}".encode()).hexdigest()
        reps = self.rng.randint(1, MAX_CHUNKS)
        p = {"repo": repo, "path": path, "commit": commit,
             "lang": self.rng.choice(LANGS),
             "content": " ".join([repo, path, commit] + [chunk] * reps)}
        if with_late:
            p[LATE_COLUMN] = self.rng.choice(LICENSES)
        return p

    def events(self, n: int) -> list[dict]:
        """The next ``n`` offsets as envelope dicts, plus duplicates."""
        out, dups = [], []
        for _ in range(n):
            off = self.offset
            self.offset += 1
            commit = self.commit_of(off)
            key = self._key()
            env = {"op": "u", "commit": commit, "offset": off,
                   "payload": None,
                   "partition": zlib.crc32(key[0].encode()) % N_PARTITIONS}
            late = off >= self.late_from
            if self.rng.random() < BAD_SHARE:
                p = self.row_payload(key, commit, late)
                if off % 2 == 0:
                    for c in PK:  # missing PK
                        del p[c]
                    env["payload"] = json.dumps(p)
                else:  # unparseable: truncated JSON
                    env["payload"] = json.dumps(p)[: self.rng.randint(3, 20)]
                out.append(env)
                continue
            u = self.rng.random()
            if u < CREATE_SHARE + UPDATE_SHARE:
                env["op"] = "c" if u < CREATE_SHARE else "u"
                env["payload"] = json.dumps(self.row_payload(key, commit, late))
            else:
                env["op"] = "d"
                env["payload"] = json.dumps(dict(zip(PK, key)))
            out.append(env)
            if self.rng.random() < DUP_SHARE:
                dups.append(env)
        return out + dups


def write_feed_file(path: str, events: list[dict], mtime: float) -> None:
    """Write one feed file atomically: a hidden temp name (ignored by the
    file source) renamed into place. ``mtime`` pins the file source's
    arrival order."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, "." + base + ".tmp")
    with open(tmp, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)


# ------------------------------------------------------------- corpus
#: private vocabulary size, and words per document
VOCAB = 3000
DOC_WORDS = (35, 60)


def _vocab(rng: random.Random, n: int) -> list[str]:
    return ["".join(rng.choices(string.ascii_lowercase, k=rng.randint(4, 9)))
            for _ in range(n)]


class Corpus:
    """A seeded document + vector corpus with planted duplicates.

    Documents are sequences of words from a private vocabulary (random
    pairs share almost no 5-char shingles). ``exact_pairs`` documents are
    byte copies of another document; ``near_pairs`` are copies with a few
    words replaced. Vectors are ``dim`` float32 components in [-1, 1].
    """

    def __init__(self, seed: int, n_docs: int, exact_pairs: int,
                 near_pairs: int, dim: int):
        self.rng = random.Random(seed)
        self.vocab = _vocab(self.rng, VOCAB)
        self.dim = dim
        self.next_id = 0
        self.ver = 1
        #: doc_id -> (text, vector)
        self.docs: dict[int, tuple[str, list[float]]] = {}
        self.exact: list[tuple[int, int]] = []
        self.near: list[tuple[int, int]] = []
        base = [self._new_doc() for _ in range(n_docs - exact_pairs - near_pairs)]
        for i in range(exact_pairs):
            self.exact.append((base[i], self._copy_of(base[i], 0)))
        for i in range(near_pairs):
            src = base[exact_pairs + i]
            self.near.append((src, self._copy_of(src, 3)))

    def text(self) -> str:
        n = self.rng.randint(*DOC_WORDS)
        return " ".join(self.rng.choices(self.vocab, k=n))

    def vector(self) -> list[float]:
        return [round(self.rng.uniform(-1, 1), 4) for _ in range(self.dim)]

    def _new_doc(self, text: str | None = None) -> int:
        i = self.next_id
        self.next_id += 1
        self.docs[i] = (text if text is not None else self.text(), self.vector())
        return i

    def mutate(self, text: str, n_words: int) -> str:
        words = text.split(" ")
        # change words early in the text: only the first 256 chars are
        # shingled, so a later edit would leave an exact duplicate
        for _ in range(n_words):
            words[self.rng.randrange(min(len(words), 12))] = self.rng.choice(self.vocab)
        return " ".join(words)

    def _copy_of(self, src: int, n_words: int) -> int:
        t = self.docs[src][0]
        return self._new_doc(self.mutate(t, n_words) if n_words else t)

    def change_batch(self, share: float) -> list[tuple]:
        """Mutate ``share`` of the live corpus in place and return the
        change rows ``(doc_id, ver, text, vector, is_delete)``: 55 %
        rewrites, 15 % deletes, 15 % inserts, 10 % new exact copies and
        5 % new near copies of live documents. Advances the version."""
        self.ver += 1
        live = sorted(self.docs)
        n = max(4, int(len(live) * share))
        picked = self.rng.sample(live, n)
        rows, touched = [], set()
        for j, d in enumerate(picked):
            if d in touched:
                continue
            kind = j % 20
            if kind < 11:
                self.docs[d] = (self.text(), self.vector())
            elif kind < 14:
                del self.docs[d]
                rows.append((d, self.ver, None, None, True))
                touched.add(d)
                continue
            elif kind < 17:
                d = self._new_doc()
            elif kind < 19:
                src = self.rng.choice(live)
                if src not in self.docs or src in touched:
                    continue
                d = self._copy_of(src, 0)
                self.exact.append((src, d))
            else:
                src = self.rng.choice(live)
                if src not in self.docs or src in touched:
                    continue
                d = self._copy_of(src, 3)
                self.near.append((src, d))
            touched.add(d)
            text, vec = self.docs[d]
            rows.append((d, self.ver, text, vec, False))
        return rows

    def live_exact_pairs(self) -> list[tuple[int, int]]:
        """Planted exact pairs whose two documents are still live and still
        byte-identical."""
        return sorted({(min(a, b), max(a, b)) for a, b in self.exact
                       if a in self.docs and b in self.docs
                       and self.docs[a][0] == self.docs[b][0]})
