"""URL-seen filter (J3/B2): an exact left-anti join, with a partitioned
bloom pre-filter in front of it once the seen set is large.

New-build per north_rule — the reference has no dedup at all (URLs are
assumed unique per invocation; verified absent, SURVEY.md §2.4 J3).

Semantics (always authoritative):

    frontier.join(seen, "url_hash", "left_anti")

The seen set's size alone selects the arm: below
``CrawlConfig.bloom_min_seen`` rows the driver runs the anti-join alone;
at or above it, it builds per-``host_hash``-shard bloom filters at round
start (``applyInPandas`` over the seen table grouped by shard, collected
and broadcast) and passes them to ``seen_filter``. The probe marks
frontier rows "maybe seen"; only those rows enter the exact anti-join. A
false positive can only send a row *into* the exact join, never drop it,
so both arms return the same rows (tests/test_seen.py).

The bloom is a deterministic double-hashing bloom over the
already-computed xxhash64 ``url_hash`` (numpy vectorized, no Python
string hashing).

At scale the seen table is a per-round delta log that is periodically
compacted (``seen_compact_every``) into ONE table bucketed by url_hash
(``seen_buckets``), so the anti-join shuffles only the frontier side.

The shards are driver-resident, so their size is capped:
``build_bloom_shards(max_total_bytes=...)`` (fed by
``CrawlConfig.prefilter_max_bytes``, default 256 MB) computes the exact
planned bitset bytes from a per-shard count aggregation BEFORE building
and returns None past the cap; the anti-join then runs alone. Pinned by
tests/test_seen.py::test_prefilter_cap_boundary and the
``seen_probe_plan`` oracle entry.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType()),
        T.StructField("n_bits", T.LongType()),
        T.StructField("n_hashes", T.IntegerType()),
        T.StructField("bits", T.BinaryType()),
    ]
)

_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _bloom_params(n_items: int, fpp: float) -> tuple[int, int]:
    n_items = max(1, n_items)
    n_bits = max(64, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    n_bits = (n_bits + 63) // 64 * 64
    n_hashes = max(1, min(8, round(n_bits / n_items * math.log(2))))
    return n_bits, n_hashes


def _positions(hashes: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    """Kirsch-Mitzenmacher double hashing from one 64-bit hash."""
    h = hashes.astype(np.uint64)
    h1 = h
    h2 = ((h >> np.uint64(32)) | (h << np.uint64(32))) * _GOLDEN & _MASK64
    idx = np.empty((n_hashes, len(h)), dtype=np.uint64)
    for i in range(n_hashes):
        idx[i] = (h1 + np.uint64(i) * h2) & _MASK64
        idx[i] %= np.uint64(n_bits)
    return idx


def _build_bits(hashes: np.ndarray, n_bits: int, n_hashes: int) -> bytes:
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    pos = _positions(hashes, n_bits, n_hashes).ravel()
    np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64), (1 << (pos & np.uint64(7))).astype(np.uint8))
    return bits.tobytes()


def _probe_bits(hashes: np.ndarray, bits: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    pos = _positions(hashes, n_bits, n_hashes)
    hit = np.ones(len(hashes), dtype=bool)
    for i in range(n_hashes):
        byte = bits[(pos[i] >> np.uint64(3)).astype(np.int64)]
        hit &= (byte & (1 << (pos[i] & np.uint64(7))).astype(np.uint8)) != 0
    return hit


def planned_bloom_bytes(
    shard_counts: dict[int, int], fpp: float = 0.01,
    expected_per_shard: int | None = None,
) -> int:
    """EXACT total bitset bytes build_bloom_shards would materialize for
    the given per-shard row counts (the sizing formula is deterministic
    in the count), letting the driver cap the build BEFORE running it."""
    return sum(
        _bloom_params(expected_per_shard or n, fpp)[0] // 8
        for n in shard_counts.values()
    )


def shard_counts(seen: DataFrame) -> dict[int, int]:
    """{host_hash: rows} — one narrow two-long-column aggregation; the
    result dict is bounded by num_shards (config default 4096)."""
    return {
        int(r["host_hash"]): int(r["n"])
        for r in seen.groupBy("host_hash").agg(F.count("*").alias("n")).collect()
    }


def build_bloom_shards(
    seen: DataFrame,
    fpp: float = 0.01,
    expected_per_shard: int | None = None,
    max_total_bytes: int | None = None,
) -> dict[int, tuple[int, int, bytes]] | None:
    """Build per-host_hash-shard blooms over ``seen(url_hash, host_hash)``.

    Returns {shard: (n_bits, n_hashes, bits)} — driver-side dict meant to
    be broadcast via ``spark.sparkContext.broadcast``.

    With ``max_total_bytes``, the EXACT planned size is computed first
    from a cheap per-shard count aggregation; if it exceeds the cap the
    build is SKIPPED and None returned — the caller's exact anti-join
    (always authoritative) then carries the seen filter alone. This is
    the 10^10-seen guard: ~1.2 B/URL at fpp 0.01 is ~12 GB of
    driver-resident shards at that design point, far past sane
    broadcast sizes (see CrawlConfig.prefilter_max_bytes).
    """
    if max_total_bytes is not None:
        planned = planned_bloom_bytes(
            shard_counts(seen), fpp, expected_per_shard
        )
        if planned > max_total_bytes:
            return None

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
        n_bits, n_hashes = _bloom_params(expected_per_shard or len(hashes), fpp)
        return pd.DataFrame(
            {
                "shard": [int(pdf["host_hash"].iloc[0])],
                "n_bits": [n_bits],
                "n_hashes": [n_hashes],
                "bits": [_build_bits(hashes, n_bits, n_hashes)],
            }
        )

    rows = (
        seen.select("url_hash", "host_hash")
        .groupBy("host_hash")
        .applyInPandas(_build, _BLOOM_SCHEMA)
        .collect()
    )
    return {r["shard"]: (r["n_bits"], r["n_hashes"], bytes(r["bits"])) for r in rows}


def seen_filter(
    frontier: DataFrame,
    seen: DataFrame | None,
    bloom_shards_bc=None,
) -> DataFrame:
    """Drop frontier rows whose url_hash is in ``seen``.

    Without ``bloom_shards_bc``: plain left-anti join (authoritative).
    With it: bloom pre-filter via a vectorized pandas UDF splits the
    frontier into definitely-new (bloom miss — passes through with NO
    join at all) and maybe-seen (bloom hit — exact anti-join applies).
    """
    if seen is None:
        return frontier
    # no distinct(): a left-anti join ignores duplicates on its right side
    seen_keys = seen.select("url_hash")
    if bloom_shards_bc is None:
        return frontier.join(seen_keys, "url_hash", "left_anti")

    @F.pandas_udf(T.BooleanType())
    def maybe_seen(url_hash: pd.Series, host_hash: pd.Series) -> pd.Series:
        shards = bloom_shards_bc.value
        hashes = url_hash.to_numpy(dtype=np.int64).view(np.uint64)
        out = np.zeros(len(url_hash), dtype=bool)
        for shard, grp in pd.Series(range(len(host_hash))).groupby(host_hash.to_numpy()):
            entry = shards.get(int(shard))
            if entry is None:
                continue
            n_bits, n_hashes, raw = entry
            bits = np.frombuffer(raw, dtype=np.uint8)
            sel = grp.to_numpy()
            out[sel] = _probe_bits(hashes[sel], bits, n_bits, n_hashes)
        return pd.Series(out)

    flagged = frontier.withColumn("_maybe_seen", maybe_seen(F.col("url_hash"), F.col("host_hash")))
    definitely_new = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    suspects = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    survivors = suspects.join(seen_keys, "url_hash", "left_anti")
    return definitely_new.unionByName(survivors)


def recrawl_filter(
    frontier: DataFrame,
    seen: DataFrame | None,
    cutoff,
    ts_col: str = "seen_ts",
) -> DataFrame:
    """Freshness-aware URL-seen: a seen record only blocks the frontier
    while it is at/after ``cutoff`` (i.e. younger than the recrawl TTL);
    staler records expire and the URL re-enters the frontier — the
    recrawl policy a long-running crawl needs on top of the absolute
    seen filter. The only extra work vs seen_filter is the timestamp
    predicate pushed into the seen-side scan.
    """
    if seen is None:
        return frontier
    fresh = seen.filter(F.col(ts_col) >= cutoff).select("url_hash")
    return seen_filter(frontier, fresh)
