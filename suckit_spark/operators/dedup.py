"""Distributed URL-seen membership: exact left-anti join, or a bloom alone.

The reference keeps an exact in-memory ``HashMap`` behind a mutex
(scraper.rs:44,76-85). Here the default (exact) mode is the reference-parity
contract: the superstep's :func:`first_wins` winners are left-anti joined
against the append-only ``seen`` table, and no sketch is built, probed or
maintained. A bloom prefilter in front of that join does not pay: the join
must exchange the whole seen side anyway, so the probe, split and union are
pure extra work (``BENCH/BLOOM.md``, 20 M seen: 8.42 s prefiltered against
3.78 s for the plain join).

A bloom filter (:class:`BloomState`) backs only the APPROXIMATE mode
(``CrawlConfig.seen_sketch="bloom"``): once engaged, :func:`probe_unseen`
lets the bloom alone decide membership — O(candidates) with no shuffle of the
seen side, at the price of dropping false-positive candidates.

The bloom is RANGE-PARTITIONED and built ON EXECUTORS: urls hash into
``num_ranges`` ranges, each range owning an independent filter, so every
filter stays broadcastable at the 10^10 design point. Bit positions are
computed with Spark built-ins (``xxhash64`` + ``pmod``, whole-stage
codegen'd) and OR-combined into 64-bit words by a hash aggregation WITH
map-side partial combine, so the shuffle and any driver collect carry at
most the distinct set words per range (bounded by m/64). The bulk build
packs those words to bytes in one Arrow stage per range, so the driver only
receives the finished filter blobs — exactly the bytes it must broadcast
anyway; a seen delta's words are ORed into the driver-held blobs. The
membership probe is a vectorized pandas UDF over the precomputed position
columns plus the range id.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BooleanType

#: Cap on a single range's filter size (bits). 2^30 bits = 128 MiB per
#: filter keeps each blob comfortably under Spark's broadcast limits;
#: ``num_ranges`` scales up automatically past this.
MAX_BITS_PER_RANGE = 1 << 30


def bloom_params(n_items: int, fpp: float) -> tuple[int, int]:
    """(m bits, k hashes) for the target false-positive rate."""
    n = max(n_items, 1)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 8)


def num_ranges_for(n_items: int, fpp: float) -> int:
    """Number of url-hash ranges so each range's filter fits the size cap."""
    m_total, _ = bloom_params(n_items, fpp)
    return max(1, -(-m_total // MAX_BITS_PER_RANGE))


def _range_col(col: Column, num_ranges: int) -> Column:
    return F.pmod(F.xxhash64(col), F.lit(num_ranges)).cast("int")


def _position_cols(col: Column, m: int, k: int) -> list[Column]:
    return [F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m)) for i in range(k)]


def _set_words(df: DataFrame, url_col: str, m: int, k: int,
               num_ranges: int) -> DataFrame:
    """(rg, w, word): the 64-bit words a set of urls sets, OR-aggregated
    with map-side combine — at most m/64 rows per range."""
    col = F.col(url_col)
    return df.select(
        _range_col(col, num_ranges).alias("rg"),
        F.explode(F.array(*_position_cols(col, m, k))).alias("p"),
    ).groupBy(
        "rg", (F.col("p") / 64).cast("long").alias("w")
    ).agg(F.expr(
        "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT)))"
    ).alias("word"))


def _blob_bytes(m: int) -> int:
    """Blob length for an m-bit filter, padded to whole 64-bit words so a
    delta's words can be ORed in place via a uint64 view."""
    return ((m + 63) // 64) * 8


def _build_blobs(df: DataFrame, url_col: str, m: int, k: int,
                 num_ranges: int) -> dict:
    """Executor-side blob build for fixed filter geometry: set words ->
    per-range Arrow pack -> driver collects only the finished blobs."""
    n_bytes = _blob_bytes(m)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(n_bytes // 8, dtype=np.uint64)
        np.bitwise_or.at(
            bits, pdf["w"].to_numpy().astype(np.int64),
            pdf["word"].to_numpy().astype(np.int64).view(np.uint64))
        return pd.DataFrame({"rg": [int(pdf["rg"].iloc[0])],
                             "bits": [bits.tobytes()]})

    parts = _set_words(df, url_col, m, k, num_ranges).groupBy(
        "rg").applyInPandas(pack, "rg int, bits binary").collect()
    return {r.rg: np.frombuffer(bytes(r.bits), dtype=np.uint8)
            for r in parts}


class BloomState:
    """Incrementally-maintained, range-partitioned bloom filter over the
    seen set: never a false negative, false positives at ``fpp``.

    The seen table is append-only, so the filter never needs rebuilding
    from the full table: size the geometry once for ``capacity`` items,
    build it in bulk on the first :meth:`add`, then fold each superstep's
    (small) seen delta in — per-superstep cost is proportional to the
    DELTA, not the accumulated seen set. When the item count outgrows
    capacity, rebuild from the full table at ``max(count, capacity *
    GROWTH)`` — geometric growth keeps total rebuild work O(final build).
    """

    GROWTH = 8

    def __init__(self, url_col: str, capacity: int, fpp: float):
        self.url_col = url_col
        self.fpp = fpp
        self.count = 0
        self.blobs: dict = {}   # range id -> numpy filter; absent = empty
        self._bc = None         # cached broadcast of the current version
        self._resize(max(capacity, 1))

    def _resize(self, capacity: int) -> None:
        self.capacity = capacity
        self.num_ranges = num_ranges_for(capacity, self.fpp)
        self.m, self.k = bloom_params(
            -(-capacity // self.num_ranges), self.fpp)

    def add(self, delta: DataFrame, delta_count: int,
            full_seen: DataFrame | None = None) -> None:
        """Fold a seen delta in; rebuild from ``full_seen`` if capacity is
        exceeded. ``delta`` must hold urls not previously added (the crawl's
        deltas are exactly the newly-seen urls)."""
        grow = self.count + delta_count > self.capacity
        if grow and full_seen is None and self.count:
            # Raise BEFORE mutating any state — the caller can retry with
            # full_seen and the filter is still exactly what it was.
            # Rebuilding the grown geometry from the delta alone would drop
            # every previously-added url (false negatives: the crawl would
            # re-visit them).
            raise ValueError(
                f"BloomState growth triggered (count "
                f"{self.count + delta_count} > capacity {self.capacity}) "
                "but no full_seen DataFrame was passed; rebuilding from the "
                "delta would drop every previously-added url")
        self._invalidate()
        self.count += delta_count
        if grow:
            self._resize(max(self.count, self.capacity * self.GROWTH))
        if grow or not self.blobs:
            self.blobs = _build_blobs(
                full_seen if full_seen is not None else delta,
                self.url_col, self.m, self.k, self.num_ranges)
            return
        # Collect only the delta's set words and OR them into the
        # driver-held blobs through a uint64 view — never the full O(m)
        # blob per superstep.
        words = _set_words(delta, self.url_col, self.m, self.k,
                           self.num_ranges).toPandas()
        for rg, grp in words.groupby("rg"):
            np.bitwise_or.at(
                self._writable(int(rg)).view(np.uint64),
                grp["w"].to_numpy().astype(np.int64),
                grp["word"].to_numpy().astype(np.int64).view(np.uint64))

    def broadcast(self, spark):
        """Broadcast of the current blobs, cached until the next change."""
        if self._bc is None:
            self._bc = spark.sparkContext.broadcast(self.blobs)
        return self._bc

    def _invalidate(self) -> None:
        if self._bc is not None:
            self._bc.unpersist()
            self._bc = None

    def _writable(self, rg: int) -> np.ndarray:
        """Range ``rg``'s blob, safe to mutate in place (copy-on-write for
        the read-only arrays a bulk build hands back)."""
        blob = self.blobs.get(rg)
        if blob is None:
            blob = np.zeros(_blob_bytes(self.m), dtype=np.uint8)
        elif blob.flags.writeable:
            return blob
        else:
            blob = blob.copy()
        self.blobs[rg] = blob
        return blob

    def might_contain_col(self, spark, col: Column) -> Column:
        """Vectorized membership probe column over this filter version."""
        bc = self.broadcast(spark)

        from pyspark.sql.functions import pandas_udf

        @pandas_udf(BooleanType())
        def might_contain(rg: pd.Series, *pos_cols: pd.Series) -> pd.Series:
            filters = bc.value
            rgv = rg.to_numpy()
            acc = np.zeros(len(rgv), dtype=bool)
            for r in np.unique(rgv):
                b = filters.get(int(r))
                if b is None:
                    continue  # no seen urls in this range -> definitely new
                sel = rgv == r
                sub = np.ones(sel.sum(), dtype=bool)
                for p in pos_cols:
                    pv = p.to_numpy()[sel]
                    sub &= (b[pv // 8] & (1 << (pv % 8)).astype(np.uint8)) != 0
                acc[sel] = sub
            return pd.Series(acc)

        return might_contain(_range_col(col, self.num_ranges),
                             *_position_cols(col, self.m, self.k))


def probe_unseen(candidates: DataFrame, sketch: BloomState,
                 url_col: str = "url") -> DataFrame:
    """APPROXIMATE seen-test: candidates the bloom proves unseen — NO exact
    residual join. This is the 10^10-scale mode (north_rule bloom seen-set):
    per-superstep cost is O(candidates) probe work with zero shuffle of the
    seen side, at the price of dropping false-positive candidates (bounded
    by the bloom's fpp — a coverage loss, never a duplicate visit). The
    exact left-anti join stays the default correctness contract."""
    spark = candidates.sparkSession
    return candidates.filter(~sketch.might_contain_col(spark, F.col(url_col)))


def first_wins(candidates: DataFrame, key_col: str, order_col: str) -> DataFrame:
    """Order-preserving within-batch dedup: keep the row with the smallest
    ``order_col`` per ``key_col`` (reference P8: the first discoverer inserts
    into path_map and wins; ``dropDuplicates`` would pick a nondeterministic
    winner).

    Shape: a ``min_by`` aggregation, NOT a window — partial (map-side)
    combine shrinks the shuffle to one winner per key per map partition; a
    window would shuffle every candidate row. The plan is a
    ``SortAggregate`` with a ``Sort`` on both sides of the exchange, not a
    hash aggregation: ``min_by`` over a struct holding an array (the
    order_key) has a buffer type hash aggregation cannot hold. order_col
    values are unique per key in the crawl (order_key = parent chain + link
    position), so the winner is deterministic."""
    others = [c for c in candidates.columns if c != key_col]
    return (
        candidates.groupBy(key_col)
        .agg(F.min_by(F.struct(*others), F.col(order_col)).alias("__w"))
        .select(key_col, *[F.col(f"__w.{c}").alias(c) for c in others])
    )
