"""Erasure coding for chunk storage: Reed-Solomon n-k and LRC 2k-2-2.

Reference semantics (library/cpp/erasure — Reed-Solomon and Local
Reconstruction Codes over GF(2^8); yt/yt/server/job_proxy/
remote_copy_job.cpp:385-449 repairs erasure chunks in flight during
RemoteCopy using the codec's part layout):

- a chunk's payload splits into ``k`` equal DATA parts plus ``m``
  PARITY parts; any ``k`` surviving parts reconstruct the chunk
  (maximum-distance-separable property);
- ``reed_solomon_6_3`` (k=6, m=3) and ``reed_solomon_3_3`` are the
  reference's plain RS codecs;
- ``lrc_12_2_2`` is the Local Reconstruction Code: 12 data parts in
  two groups of 6, one LOCAL XOR parity per group plus two GLOBAL
  parities — a single lost data part repairs from its 6-part local
  group (7 reads instead of 12), the common failure case that makes
  LRC the default at datacenter scale.

Implementation is the textbook public construction: GF(2^8) with the
0x11D primitive polynomial, systematic encoding via a CAUCHY matrix
(any k×k submatrix invertible ⇒ MDS), erasure repair by Gaussian
elimination over the surviving rows. numpy-table arithmetic, so the
per-part cost is a few vectorized passes.

Scale shape: parts are per-chunk, so encode/repair parallelizes
chunk-wise exactly like RemoteCopy's manifest fan-out; repairing a
part never touches more than the codec's repair set (local group for
LRC single losses).
"""

from __future__ import annotations

import os

import numpy as np

# --- GF(2^8), primitive polynomial x^8+x^4+x^3+x^2+1 (0x11D) ------------

_EXP = np.zeros(512, dtype=np.uint8)
_LOG = np.zeros(256, dtype=np.int32)
_x = 1
for _i in range(255):
    _EXP[_i] = _x
    _LOG[_x] = _i
    _x <<= 1
    if _x & 0x100:
        _x ^= 0x11D
_EXP[255:510] = _EXP[:255]


def _gf_mul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return int(_EXP[_LOG[a] + _LOG[b]])


def _gf_inv(a: int) -> int:
    if a == 0:
        raise ZeroDivisionError("GF(256) inverse of 0")
    return int(_EXP[255 - _LOG[a]])


def _gf_mul_vec(a: int, v: np.ndarray) -> np.ndarray:
    """Scalar × byte-vector over GF(256), via log/exp tables."""
    if a == 0:
        return np.zeros_like(v)
    la = _LOG[a]
    out = np.zeros_like(v)
    nz = v != 0
    out[nz] = _EXP[la + _LOG[v[nz]]]
    return out


def _cauchy_row(j: int, k: int) -> list[int]:
    """Row j of the k-wide Cauchy parity matrix: a[j][i] = 1/(x_j ⊕ y_i)
    with x_j = k + j, y_i = i (disjoint sets ⇒ every square submatrix of
    [I; C] is invertible — the MDS guarantee)."""
    return [_gf_inv((k + j) ^ i) for i in range(k)]


def _solve(mat: list[list[int]], rhs: list[np.ndarray]) -> list[np.ndarray]:
    """Gaussian elimination over GF(256): solve mat · x = rhs where each
    rhs entry is a byte vector. mat is n×n with n ≤ 16 — driver-trivial;
    the vector ops are numpy passes over the part payloads."""
    n = len(mat)
    m = [row[:] for row in mat]
    r = [v.copy() for v in rhs]
    for col in range(n):
        piv = next((i for i in range(col, n) if m[i][col] != 0), None)
        if piv is None:
            raise ValueError("singular repair matrix (too many erasures)")
        m[col], m[piv] = m[piv], m[col]
        r[col], r[piv] = r[piv], r[col]
        inv = _gf_inv(m[col][col])
        m[col] = [_gf_mul(inv, v) for v in m[col]]
        r[col] = _gf_mul_vec(inv, r[col])
        for i in range(n):
            if i != col and m[i][col] != 0:
                f = m[i][col]
                m[i] = [m[i][c] ^ _gf_mul(f, m[col][c]) for c in range(n)]
                r[i] = r[i] ^ _gf_mul_vec(f, r[col])
    return r


def _solve_rect(mat: list[list[int]], rhs: list[np.ndarray], k: int) -> list[np.ndarray]:
    """Solve an overdetermined consistent system over GF(256): eliminate
    column by column picking any row with a nonzero pivot among the
    not-yet-used rows; raises if fewer than k independent equations."""
    rows = [r[:] for r in mat]
    vals = [v.copy() for v in rhs]
    n = len(rows)
    used: list[int] = []
    for col in range(k):
        piv = next(
            (i for i in range(n) if i not in used and rows[i][col] != 0), None
        )
        if piv is None:
            raise ValueError("unrecoverable: too many erasures for LRC")
        used.append(piv)
        inv = _gf_inv(rows[piv][col])
        rows[piv] = [_gf_mul(inv, v) for v in rows[piv]]
        vals[piv] = _gf_mul_vec(inv, vals[piv])
        for i in range(n):
            if i != piv and rows[i][col] != 0:
                f = rows[i][col]
                rows[i] = [rows[i][c] ^ _gf_mul(f, rows[piv][c]) for c in range(k)]
                vals[i] = vals[i] ^ _gf_mul_vec(f, vals[piv])
    return [vals[used[c]] for c in range(k)]


class ReedSolomon:
    """Systematic RS(k+m, k): parts 0..k-1 are the data split verbatim,
    parts k..k+m-1 are Cauchy-matrix parities."""

    def __init__(self, k: int, m: int) -> None:
        self.k, self.m = k, m
        self.total = k + m

    # part layout ----------------------------------------------------------

    def split(self, blob: bytes) -> list[np.ndarray]:
        """Pad to a multiple of k (PKCS-style length tail: the last 4
        bytes of the padded stream store the original length) and split
        into k equal parts."""
        n = len(blob)
        payload = blob + b"\0" * ((-(n + 4)) % self.k) + n.to_bytes(4, "big")
        arr = np.frombuffer(payload, dtype=np.uint8)
        return [p.copy() for p in arr.reshape(self.k, -1)]

    def join(self, parts: list[np.ndarray]) -> bytes:
        payload = np.concatenate(parts).tobytes()
        n = int.from_bytes(payload[-4:], "big")
        return payload[:n]

    # encode / repair ------------------------------------------------------

    def _parity_rows(self) -> list[list[int]]:
        return [_cauchy_row(j, self.k) for j in range(self.m)]

    def encode(self, blob: bytes) -> list[bytes]:
        data = self.split(blob)
        rows = self._parity_rows()
        parts = list(data)
        for row in rows:
            acc = np.zeros_like(data[0])
            for coef, d in zip(row, data):
                acc ^= _gf_mul_vec(coef, d)
            parts.append(acc)
        return [p.tobytes() for p in parts]

    def decode(self, parts: dict[int, bytes]) -> bytes:
        """Reconstruct the chunk from any k surviving parts (part index →
        payload). Raises if fewer than k survive."""
        if len(parts) < self.k:
            raise ValueError(
                f"need {self.k} parts, have {len(parts)} — unrecoverable"
            )
        have = {i: np.frombuffer(b, dtype=np.uint8) for i, b in parts.items()}
        if all(i in have for i in range(self.k)):
            return self.join([have[i] for i in range(self.k)])
        rows, rhs = [], []
        prows = self._parity_rows()
        for i in sorted(have)[: self.k]:
            if i < self.k:
                rows.append([1 if c == i else 0 for c in range(self.k)])
            else:
                rows.append(prows[i - self.k])
            rhs.append(have[i])
        data = _solve(rows, rhs)
        return self.join(data)

    def repair(self, parts: dict[int, bytes]) -> dict[int, bytes]:
        """Return the FULL part set, reconstructing whatever is missing
        (the remote-copy in-flight repair primitive). Also reports which
        indices were rebuilt via the 'repaired' key contract of
        ``repair_report``."""
        blob = self.decode(parts)
        full = self.encode(blob)
        return {i: full[i] for i in range(self.total)}


class Lrc:
    """LRC 2k-2-2 (lrc.cpp layout): ``2k`` data parts in two local
    groups of ``k``, one XOR local parity per group, two global Cauchy
    parities. Single-part loss inside a group repairs from the k
    surviving group members + the local parity — the locality win."""

    def __init__(self, k2: int = 12) -> None:
        if k2 % 2:
            raise ValueError("LRC data part count must be even")
        self.k = k2  # data parts
        self.g = k2 // 2  # group size
        self.total = k2 + 4  # + 2 local + 2 global
        self._rs = ReedSolomon(k2, 2)

    def split(self, blob: bytes) -> list[np.ndarray]:
        return self._rs.split(blob)

    def encode(self, blob: bytes) -> list[bytes]:
        data = self.split(blob)
        local0 = data[0].copy()
        for d in data[1 : self.g]:
            local0 ^= d
        local1 = data[self.g].copy()
        for d in data[self.g + 1 : self.k]:
            local1 ^= d
        rows = [_cauchy_row(j, self.k) for j in range(2)]
        globs = []
        for row in rows:
            acc = np.zeros_like(data[0])
            for coef, d in zip(row, data):
                acc ^= _gf_mul_vec(coef, d)
            globs.append(acc)
        parts = list(data) + [local0, local1] + globs
        return [p.tobytes() for p in parts]

    def repair_set(self, missing: int) -> list[int]:
        """Indices a SINGLE-part repair reads: the local group for data/
        local-parity losses (the LRC locality property), everything
        data-ish for a global parity."""
        if missing < self.g:  # data, group 0
            return [i for i in range(self.g) if i != missing] + [self.k]
        if missing < self.k:  # data, group 1
            return [i for i in range(self.g, self.k) if i != missing] + [self.k + 1]
        if missing < self.k + 2:  # a local parity: re-XOR its group
            grp = 0 if missing == self.k else 1
            return list(range(grp * self.g, grp * self.g + self.g))
        return list(range(self.k))  # global parity: recompute from data

    def decode(self, parts: dict[int, bytes]) -> bytes:
        have = {i: np.frombuffer(b, dtype=np.uint8) for i, b in parts.items()}
        data_missing = [i for i in range(self.k) if i not in have]
        # local XOR repairs first (cheap, may unlock full data)
        for grp in (0, 1):
            lo, hi, lp = grp * self.g, grp * self.g + self.g, self.k + grp
            miss = [i for i in range(lo, hi) if i not in have]
            if len(miss) == 1 and lp in have:
                acc = have[lp].copy()
                for i in range(lo, hi):
                    if i != miss[0]:
                        acc ^= have[i]
                have[miss[0]] = acc
        data_missing = [i for i in range(self.k) if i not in have]
        if not data_missing:
            return self._rs.join([have[i] for i in range(self.k)])
        # full linear solve over EVERY surviving equation: identity rows
        # (surviving data), local-parity rows (XOR of a group = 1-coeffs
        # over that group), global Cauchy rows. Using the locals as
        # equations is what lets LRC 12-2-2 recover ANY triple erasure
        # (e.g. three data parts of one group = local + 2 globals).
        rows, rhs = [], []
        for i in range(self.k):
            if i in have:
                rows.append([1 if c == i else 0 for c in range(self.k)])
                rhs.append(have[i])
        for grp in (0, 1):
            lp = self.k + grp
            if lp in have:
                rows.append(
                    [
                        1 if grp * self.g <= c < grp * self.g + self.g else 0
                        for c in range(self.k)
                    ]
                )
                rhs.append(have[lp])
        prows = [_cauchy_row(j, self.k) for j in range(2)]
        for j in range(2):
            gi = self.k + 2 + j
            if gi in have:
                rows.append(prows[j])
                rhs.append(have[gi])
        data = _solve_rect(rows, rhs, self.k)
        return self._rs.join(data)

    def repair(self, parts: dict[int, bytes]) -> dict[int, bytes]:
        blob = self.decode(parts)
        full = self.encode(blob)
        return {i: full[i] for i in range(self.total)}


CODECS = {
    "reed_solomon_6_3": lambda: ReedSolomon(6, 3),
    "reed_solomon_3_3": lambda: ReedSolomon(3, 3),
    "lrc_12_2_2": lambda: Lrc(12),
}


def get_codec(name: str):
    try:
        return CODECS[name]()
    except KeyError:
        raise ValueError(f"unknown erasure codec {name!r}; use {list(CODECS)}")


# --- erasure-coded table storage (chunk part files) ----------------------


def _codec_of(table_dir: str):
    from ytsaurus_spark.sources.formats import table_attributes

    name = table_attributes(table_dir).get("erasure_codec")
    return (name, get_codec(name)) if name else (None, None)


def write_erasure_table(
    spark, df, table_dir: str, codec: str = "reed_solomon_6_3"
) -> dict:
    """Write ``df`` as an erasure-coded table: parquet chunks are encoded
    into ``<chunk>.e<i>`` part files (data parts first, parities after —
    the chunk_writer's part placement), the plain chunk files are
    removed, and the ``erasure_codec`` attribute records the scheme.
    Encoding runs chunk-parallel via mapInPandas over the chunk
    manifest — at 100 TB each executor task encodes its own chunks."""
    import pandas as pd

    from ytsaurus_spark.sources.formats import _write_attrs, table_attributes

    df.write.mode("overwrite").parquet(table_dir)
    chunks = sorted(
        f for f in os.listdir(table_dir) if f.endswith(".parquet")
    )
    manifest = spark.createDataFrame(
        [(os.path.join(table_dir, f),) for f in chunks], "chunk string"
    ).repartition(min(len(chunks), spark.sparkContext.defaultParallelism))
    cname = codec

    def encode_chunks(batches):
        cdc = get_codec(cname)
        for pdf in batches:
            rows = []
            for path in pdf["chunk"]:
                with open(path, "rb") as fh:
                    blob = fh.read()
                for i, part in enumerate(cdc.encode(blob)):
                    with open(f"{path}.e{i}", "wb") as fh:
                        fh.write(part)
                os.remove(path)
                rows.append((path, len(blob)))
            yield pd.DataFrame(rows, columns=["chunk", "nbytes"])

    stats = manifest.mapInPandas(
        encode_chunks, schema="chunk string, nbytes long"
    ).collect()
    attrs = dict(table_attributes(table_dir))
    attrs["erasure_codec"] = codec
    attrs["erasure_chunks"] = [os.path.basename(r.chunk) for r in stats]
    _write_attrs(table_dir, attrs)
    return {"chunks": len(stats), "bytes": int(sum(r.nbytes for r in stats))}


def assemble_erasure_table(spark, table_dir: str, out_dir: str) -> dict:
    """Reconstruct the plain parquet chunks from part files into
    ``out_dir``, REPAIRING missing/erased parts from the survivors (the
    erasure reader path, chunk-parallel). Returns repair stats."""
    import pandas as pd

    from ytsaurus_spark.sources.formats import table_attributes

    name, _ = _codec_of(table_dir)
    if name is None:
        raise ValueError(f"{table_dir} is not erasure-coded")
    chunks = table_attributes(table_dir)["erasure_chunks"]
    os.makedirs(out_dir, exist_ok=True)
    manifest = spark.createDataFrame(
        [(os.path.join(table_dir, c), os.path.join(out_dir, c)) for c in chunks],
        "src string, dst string",
    ).repartition(min(len(chunks), spark.sparkContext.defaultParallelism))

    def rebuild(batches):
        cdc = get_codec(name)
        for pdf in batches:
            rows = []
            for src, dst in zip(pdf["src"], pdf["dst"]):
                have = {}
                for i in range(cdc.total):
                    p = f"{src}.e{i}"
                    if os.path.exists(p):
                        with open(p, "rb") as fh:
                            have[i] = fh.read()
                blob = cdc.decode(have)
                with open(dst, "wb") as fh:
                    fh.write(blob)
                rows.append((src, cdc.total - len(have)))
            yield pd.DataFrame(rows, columns=["src", "n_repaired"])

    stats = manifest.mapInPandas(
        rebuild, schema="src string, n_repaired long"
    ).collect()
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()
    return {
        "chunks": len(stats),
        "parts_repaired": int(sum(r.n_repaired for r in stats)),
    }


def read_erasure_table(spark, table_dir: str):
    """Read an erasure-coded table, transparently repairing erased parts
    (reassembles into a scratch dir, then a plain parquet scan)."""
    from ytsaurus_spark.operators import scratch_dir

    out = scratch_dir("ytspark_erasure_read_")
    assemble_erasure_table(spark, table_dir, out)
    return spark.read.parquet(out)


def erase_parts(table_dir: str, part_indices: list[int]) -> int:
    """Test/chaos helper: delete the given part index from every chunk
    (simulated disk/node loss). Returns files removed."""
    removed = 0
    from ytsaurus_spark.sources.formats import table_attributes

    for c in table_attributes(table_dir)["erasure_chunks"]:
        for i in part_indices:
            p = os.path.join(table_dir, f"{c}.e{i}")
            if os.path.exists(p):
                os.remove(p)
                removed += 1
    return removed


def scrub_report(table_dir: str) -> dict:
    """Part-presence census per chunk (the scrubber's view): how many
    chunks are intact / degraded-but-recoverable / lost."""
    name, cdc = _codec_of(table_dir)
    from ytsaurus_spark.sources.formats import table_attributes

    report = {"codec": name, "intact": 0, "degraded": 0, "lost": 0}
    for c in table_attributes(table_dir)["erasure_chunks"]:
        n = sum(
            os.path.exists(os.path.join(table_dir, f"{c}.e{i}"))
            for i in range(cdc.total)
        )
        if n == cdc.total:
            report["intact"] += 1
        elif n >= getattr(cdc, "k", cdc.total):
            report["degraded"] += 1
        else:
            # LRC can still recover some sub-k patterns via locals;
            # classify by an actual decode attempt
            have = {}
            for i in range(cdc.total):
                p = os.path.join(table_dir, f"{c}.e{i}")
                if os.path.exists(p):
                    with open(p, "rb") as fh:
                        have[i] = fh.read()
            try:
                cdc.decode(have)
                report["degraded"] += 1
            except ValueError:
                report["lost"] += 1
    return report
