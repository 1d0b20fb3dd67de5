"""Seeded inputs and the reference partition the benchmark checks against.

Rows come from ``dupers_spark.sources.datagen``'s row generator: row ``i``
belongs to planted group ``i // 10`` (exact copy, re-encode, caption chain,
flood caption, noisy copy, singletons). The seed picks which groups a run
sees; the program under test only ever receives the generated parquet.

The reference partition is computed here, driver-side, in plain Python and
numpy, from the documented semantics of each edge family:

  * exact: equal sha256 of a non-null payload;
  * caption: equal caption, or two distinct captions that share a MinHash
    band key (the engine's published hash family and band fold) and whose
    word-shingle Jaccard reaches the threshold;
  * perceptual: 64-bit phash within Hamming radius 3 — the stored phash
    column in fast mode; in normal mode the phash of the decoded payload
    (null when it does not decode), as the engine recomputes it.

A union-find over those edges gives the partition a correct build (or any
sequence of correct appends) must return. It deliberately reproduces the
LSH banding, so that a caption pair the band keys miss by design (about
0.08% at the planted one-word-swap similarity) is not counted as an engine
error.
"""

from __future__ import annotations

import hashlib
import os
import zlib

import numpy as np

GROUP_SPAN = 1_000_000      # seeds pick groups in [1, GROUP_SPAN)
SHINGLE_K, NUM_PERM, BANDS, ROWS, LSH_SEED, THRESHOLD = 3, 126, 42, 3, 42, 0.5
PHASH_RADIUS = 3
P31 = (1 << 31) - 1
_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_GOLD = np.uint64(0x9E3779B97F4A7C15)


def image_id(i: int) -> str:
    return f"img_{i:08d}"


def gen_rows(indices) -> list[dict]:
    """Rows for the given row indices, straight from datagen's generator."""
    from dupers_spark.sources import datagen

    return [datagen._row(int(i)) for i in indices]


def write_parquet(rows: list[dict], path: str) -> int:
    """Write rows as one parquet file with the images schema; → file bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()),
        ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
        ("caption", pa.string()), ("phash", pa.int64()),
        ("bucket", pa.string()),
    ])
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(pa.table(cols, schema=schema), path)
    return os.path.getsize(path)


def read_rows(path: str) -> list[dict]:
    """Rows of a parquet file or directory written by :func:`write_parquet`."""
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


# ----------------------------------------------------------- caption LSH

def _splitmix64(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + _GOLD
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


class CaptionLSH:
    """Shingles and band keys of one caption, as the engine defines them."""

    def __init__(self) -> None:
        from dupers_spark.functions.hashing import perm_coeffs

        a, b = perm_coeffs(NUM_PERM, LSH_SEED)
        self.A = np.array(a, dtype=np.int64)[:, None]
        self.B = np.array(b, dtype=np.int64)[:, None]

    @staticmethod
    def shingles(text: str) -> list[str]:
        toks = (text or "").split()
        if len(toks) <= SHINGLE_K:
            return [" ".join(toks)] if toks else [""]
        return list(dict.fromkeys(" ".join(toks[i:i + SHINGLE_K])
                                  for i in range(len(toks) - SHINGLE_K + 1)))

    def band_keys(self, shingles: list[str]) -> list[int]:
        crcs = np.array([zlib.crc32(s.encode("utf-8")) for s in shingles],
                        dtype=np.uint64)
        x = (_splitmix64(crcs).astype(np.int64) & np.int64(0x7FFFFFFF)) % P31
        sig = ((self.A * x[None, :] + self.B) % P31).min(axis=1) \
            .astype(np.uint64)
        with np.errstate(over="ignore"):
            folded = np.zeros(BANDS, dtype=np.uint64)
            sl = sig[:BANDS * ROWS].reshape(BANDS, ROWS)
            for j in range(ROWS):
                folded = _splitmix64(
                    folded ^ (sl[:, j] + _GOLD * np.uint64(j + 1)))
            folded = _splitmix64(
                folded ^ (np.arange(BANDS, dtype=np.uint64) + _GOLD))
        return folded.astype(np.int64).tolist()


# ------------------------------------------------------------ reference

def decoded_phash(row: dict) -> int | None:
    """Normal mode's perceptual key: the phash of the decoded payload."""
    from dupers_spark.functions.imagecodec import average_phash, decode_image

    if not row["bytes"]:
        return None
    try:
        return average_phash(decode_image(row["bytes"], row["fmt"]))
    except Exception:  # noqa: BLE001 — undecodable → no perceptual key
        return None


class Reference:
    """Incremental union-find over the three edge families. Adding rows in
    any order and in any number of steps yields the components of the
    graph over all rows added so far. ``decode=True`` keys the perceptual
    family on :func:`decoded_phash` (normal mode)."""

    def __init__(self, decode: bool = False) -> None:
        self.decode = decode
        self.parent: dict[str, str] = {}
        self.by_sha: dict[str, str] = {}
        self.by_caption: dict[str, str] = {}
        self.cap_shingles: dict[str, frozenset] = {}
        self.buckets: dict[tuple[int, int], list[str]] = {}
        self.by_phash: dict[int, str] = {}
        self.blocks: list[dict[int, list[int]]] = [
            {} for _ in range(PHASH_RADIUS + 1)]
        self.lsh = CaptionLSH()
        self.touching = 0   # rows added with an edge to an earlier step's row
        self._step: set[str] = set()

    def _find(self, x: str) -> str:
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def _union(self, a: str, b: str) -> None:
        ra, rb = self._find(a), self._find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)

    def _link(self, iid: str, other: str, old: list[bool]) -> None:
        if other not in self._step:
            old[0] = True
        self._union(iid, other)

    def add(self, rows: list[dict]) -> None:
        """Add one step's rows (a build corpus or an append batch)."""
        self._step = {r["image_id"] for r in rows}
        for r in rows:
            self.parent.setdefault(r["image_id"], r["image_id"])
        for r in rows:
            iid, old = r["image_id"], [False]
            if r["bytes"] is not None:
                sha = hashlib.sha256(r["bytes"]).hexdigest()
                if sha in self.by_sha:
                    self._link(iid, self.by_sha[sha], old)
                else:
                    self.by_sha[sha] = iid
            self._add_caption(iid, r["caption"], old)
            ph = decoded_phash(r) if self.decode else r["phash"]
            if ph is not None:
                self._add_phash(iid, int(ph), old)
            self.touching += old[0]

    def _add_caption(self, iid: str, caption: str, old: list[bool]) -> None:
        if caption in self.by_caption:
            self._link(iid, self.by_caption[caption], old)
            return
        self.by_caption[caption] = iid
        sh = self.lsh.shingles(caption)
        mine = frozenset(sh)
        self.cap_shingles[iid] = mine
        cands: set[str] = set()
        for band, key in enumerate(self.lsh.band_keys(sh)):
            bucket = self.buckets.setdefault((band, key), [])
            cands.update(bucket)
            bucket.append(iid)
        for other in cands:
            theirs = self.cap_shingles[other]
            if len(mine & theirs) / len(mine | theirs) >= THRESHOLD:
                self._link(iid, other, old)

    def _add_phash(self, iid: str, sig: int, old: list[bool]) -> None:
        sig &= 0xFFFFFFFFFFFFFFFF
        if sig in self.by_phash:
            self._link(iid, self.by_phash[sig], old)
            return
        self.by_phash[sig] = iid
        width = 64 // (PHASH_RADIUS + 1)
        cands: set[int] = set()
        for j, blocks in enumerate(self.blocks):
            val = (sig >> (j * width)) & ((1 << width) - 1)
            bucket = blocks.setdefault(val, [])
            cands.update(bucket)
            bucket.append(sig)
        for other in cands:
            if bin(sig ^ other).count("1") <= PHASH_RADIUS:
                self._link(iid, self.by_phash[other], old)

    def partition(self, ids=None) -> dict[str, str]:
        """image_id → canonical label (min member id) over ``ids``."""
        return {i: self._find(i) for i in (ids or self.parent)}

    def members(self, iid: str) -> set[str]:
        root = self._find(iid)
        return {i for i in self.parent if self._find(i) == root}


def same_partition(got: dict[str, str], want: dict[str, str]) -> int:
    """Number of ids whose cluster differs between two labelings (0 = same
    partition; labels themselves may differ)."""
    if set(got) != set(want):
        return len(set(got) ^ set(want)) or 1
    fwd: dict[str, str] = {}
    back: dict[str, str] = {}
    bad = 0
    for i, g in got.items():
        w = want[i]
        if fwd.setdefault(g, w) != w or back.setdefault(w, g) != g:
            bad += 1
    return bad


def planted_splits(part: dict[str, str]) -> int:
    """Planted groups ({r0..r4, r6} of each group) the partition does not
    keep whole — the LSH/phash recall shortfall, for the report only."""
    groups: dict[int, set[str]] = {}
    for iid, lbl in part.items():
        i = int(iid[4:])
        if i % 10 in (0, 1, 2, 3, 4, 6):
            groups.setdefault(i // 10, set()).add(lbl)
    return sum(len(labels) > 1 for labels in groups.values())
