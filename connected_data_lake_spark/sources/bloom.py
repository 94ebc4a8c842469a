"""Per-file Bloom filters: equality-predicate data skipping for unsorted
high-cardinality columns.

Zone maps (sources/zonemap.py) skip a file when the predicate falls outside
its min/max range — which needs the data to be clustered on the filtered
column (naturally, or via Z-ordering). A point lookup on an UNCLUSTERED
column (`user_id = 123` on a table laid out by date) matches every file's
range, so min/max skipping degenerates to a full scan. Delta's Bloom-filter
index and Iceberg's puffin blobs solve this with a per-file membership
sketch; same move here: the writer aggregates a small Bloom bitset per
(file, column) into the manifest, and the reader drops a file when the
bitset PROVES the probed value absent. False positives only cost a read;
false negatives cannot happen, and the exact predicate is re-applied over
the surviving files, so results never change.

Build is one distributed aggregation over the just-written files — each
row contributes k bit positions derived from an md5 split into k 32-bit
lanes (md5 rather than Spark's xxhash64 because pruning needs the SAME
hash driver-side in Python, and hashlib.md5 == F.md5 bit-for-bit on the
canonical string form) — collected as ≤ m distinct positions per file and
packed into a hex bitset on the driver. Probe cost is k bit tests.

Sizing: the default m=8192 bits / k=4 probes holds ~1% false positives at
about 850 distinct values per file; callers with bigger files should scale
``m_bits`` with rows-per-file (bits ≈ 9.6 × expected distinct values for
1% FP). The manifest stores hex, so a filter costs m/4 bytes of JSON.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

DEFAULT_M_BITS = 8192
DEFAULT_K = 4


def _canon(value) -> str | None:
    """Canonical string form hashed on BOTH sides (Spark build / Python
    probe). Strings pass through; ints/bools via str(). Floats are
    unsupported BY DESIGN — Spark's CAST(double AS STRING) and Python's
    str(float) disagree on scientific notation (1.0E20 vs 1e+20), so no
    shared canonical form exists; build_file_blooms skips float columns for
    the same reason (no bloom recorded → never skipped on)."""
    if value is None or isinstance(value, (bytes, bytearray)):
        return None
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (int, str)):
        return str(value)
    return None


def probe_positions(value, m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K) -> list[int] | None:
    """The k bit positions ``value`` sets/probes, or None if untypeable."""
    text = _canon(value)
    if text is None:
        return None
    digest = hashlib.md5(text.encode()).digest()
    return [
        int.from_bytes(digest[4 * i : 4 * i + 4], "big") % m_bits for i in range(k)
    ]


def build_file_blooms(
    spark: SparkSession,
    paths: dict[str, str],
    cols: list[str],
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    schema=None,
) -> dict[str, dict]:
    """Bloom bitsets for ``cols`` of the files in ``paths`` (rel → abs).

    ``schema`` is the written files' schema when the caller has it (the
    writer's ``df.schema``): the read then skips parquet schema inference,
    a Spark job over the footers of the files just written.

    One distributed job: every row emits its k positions per column
    (md5 split into k 32-bit lanes — a JVM Column expression, no Python in
    the scan), a (file, col) aggregate collects the ≤ m_bits DISTINCT
    positions map-side, and the driver packs each set into a hex string.
    Returns rel_path -> {col: {"hex": ..., "m": m_bits, "k": k}} — merge
    into the manifest's per-file stats under "bloom"."""
    if not cols or not paths:
        return {}
    by_abs = {v: k_ for k_, v in paths.items()}
    reader = spark.read if schema is None else spark.read.schema(schema)
    src = reader.parquet(*paths.values())
    # only types with a canonical string form shared by the Spark build and
    # the Python probe (_canon) participate: a bloom built on a double
    # column could never be probed (str(float) != CAST AS STRING), so it
    # would be manifest dead weight — skip those columns up front
    supported = {"string", "boolean", "tinyint", "smallint", "int", "bigint"}
    typed = dict(src.dtypes)
    skipped = [c for c in cols if typed.get(c) not in supported]
    if skipped:
        import warnings

        warnings.warn(
            f"bloom filters skipped for non-probeable column types: "
            f"{[(c, typed.get(c)) for c in skipped]} "
            "(supported: string/boolean/integral)",
            stacklevel=2,
        )
        cols = [c for c in cols if c not in skipped]
        if not cols:
            return {}
    df = src.select(
        F.input_file_name().alias("_file"),
        *[F.col(c).cast("string").alias(c) for c in cols],
    )
    lanes = []
    for c in cols:
        md5 = F.md5(F.col(c))  # hex string; 4-byte lanes = 8 hex chars
        for i in range(k):
            lanes.append(
                (F.conv(F.substring(md5, 8 * i + 1, 8), 16, 10).cast("long") % m_bits).alias(
                    f"_p_{c}_{i}"
                )
            )
    pos = df.select("_file", *lanes)
    agg = pos.groupBy("_file").agg(
        *[
            F.collect_set(f"_p_{c}_{i}").alias(f"_s_{c}_{i}")
            for c in cols
            for i in range(k)
        ]
    )
    out: dict[str, dict] = {}
    for row in agg.collect():  # one row per committed file: planning-sized
        rel = _rel_of(row["_file"], by_abs)
        if rel is None:
            continue
        rec = {}
        for c in cols:
            bits = bytearray(m_bits // 8)
            for i in range(k):
                for p in row[f"_s_{c}_{i}"] or []:
                    bits[p // 8] |= 1 << (p % 8)
            rec[c] = {"hex": bytes(bits).hex(), "m": m_bits, "k": k}
        out[rel] = rec
    return out


def _rel_of(file_uri: str, by_abs: dict[str, str]) -> str | None:
    # input_file_name yields a PERCENT-ENCODED URI (file:///a%20b.parquet);
    # decode before suffix-matching the raw filesystem path, else any data
    # path with spaces/non-ASCII never matches and its bitsets are silently
    # dropped (pruning stays correct but the feature no-ops — ADVICE r5)
    from urllib.parse import unquote

    path = unquote(file_uri)
    for abs_path, rel in by_abs.items():
        if path.endswith(abs_path):
            return rel
    return None


def bloom_may_contain(rec: dict | None, value) -> bool:
    """False only when the file's Bloom bitset PROVES ``value`` absent.
    Missing/foreign-format records always may-match (conservative)."""
    if not rec or "hex" not in rec:
        return True
    positions = probe_positions(value, int(rec["m"]), int(rec["k"]))
    if positions is None:
        return True
    bits = bytes.fromhex(rec["hex"])
    return all(bits[p // 8] & (1 << (p % 8)) for p in positions)
