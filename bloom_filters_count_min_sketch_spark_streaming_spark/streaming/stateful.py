"""Custom stateful streaming operators (SURVEY §2.C C8 — the reference's
architectural heart: updateStateByKey-style running state across batches).

Every operator here except ``sessionize_with_timeout`` is a ``step``
function handed to ``keyed_fold``, which owns the state-store side:

    step(key, acc, batch, seq) -> (acc, out_pdf)

``acc`` is the key's accumulator (``None`` on its first micro-batch): a
sketch, a dict, a tuple of arrays — anything picklable. ``batch`` holds
all of the key's rows in the micro-batch as one pandas frame, ``seq``
counts the micro-batches in which the key had rows, and the rows of
``out_pdf`` are appended to the output. This is the init/update/query
shape of a mergeable summary (Cormode, PODS 2021) written once: no
operator declares a state schema, (de)serializes its own state or keeps
its own batch counter. Sketches serialize through their own compact
codecs (``__reduce__`` -> ``to_bytes``).

``sessionize_with_timeout`` keeps its own state schema: it is the one
operator that needs event-time timeouts, which ``keyed_fold`` does not
offer.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bloom_filters_count_min_sketch_spark_streaming_spark.functions.bloom import NumpyBloom
from bloom_filters_count_min_sketch_spark_streaming_spark.functions.cms import NumpyCMS

_FOLD_STATE = StructType([StructField("blob", BinaryType())])


def keyed_fold(
    stream_df: DataFrame,
    keys: list[str],
    out_schema: StructType,
    step: Callable[[tuple, Any, pd.DataFrame, int], tuple[Any, pd.DataFrame]],
) -> DataFrame:
    """Group ``stream_df`` by ``keys`` and fold each key's micro-batches
    into an accumulator kept in the state store (checkpointed,
    exactly-once): ``step(key, acc, batch, seq) -> (acc, out_pdf)``.

    ``key`` is the tuple of key values; ``acc`` is what ``step`` returned
    for this key last time, ``None`` on its first batch; ``batch`` is
    the key's rows of this micro-batch in one frame (a single Arrow chunk
    is passed through without a copy); ``seq`` counts the micro-batches
    in which this key had rows. ``out_pdf`` must match ``out_schema``.

    State is one binary column holding ``pickle.dumps((seq, acc))``. With
    ``NoTimeout`` Spark calls the fold only for keys that have rows, so
    ``batch`` is never empty and a key absent from a batch keeps its
    state (and its ``seq``) untouched.
    """
    import pickle

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        seq, acc = pickle.loads(state.get[0]) if state.exists else (0, None)
        parts = list(pdfs)
        batch = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        seq += 1
        acc, out = step(key, acc, batch, seq)
        state.update((pickle.dumps((seq, acc), protocol=pickle.HIGHEST_PROTOCOL),))
        yield out

    return stream_df.groupBy(*keys).applyInPandasWithState(
        update, out_schema, _FOLD_STATE, "append", GroupStateTimeout.NoTimeout
    )


_COUNT_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("batch_events", LongType()),
        StructField("running_total", LongType()),
    ]
)


def running_counts(stream_df: DataFrame, key_col: str) -> DataFrame:
    """Running event count per key across micro-batches.

    Emits (key, batch_events, running_total) per key per batch; the final
    running_total per key equals the batch groupBy().count() — which is the
    correctness oracle.
    """

    def step(key, total, batch, _seq):
        total = (total or 0) + len(batch)
        return total, pd.DataFrame(
            {"key": [str(key[0])], "batch_events": [len(batch)], "running_total": [total]}
        )

    return keyed_fold(stream_df, [key_col], _COUNT_OUT, step)


_COUNT_BATCH_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("batch_events", LongType()),
        StructField("running_total", LongType()),
    ]
)


def running_counts_with_batch(
    stream_df: DataFrame, key_col: str, batch_col: str
) -> DataFrame:
    """running_counts with a DATA-DERIVED batch sequence number: each
    emitted row carries the batch id read from ``batch_col`` (all rows of
    a micro-batch share it when the source is ntile_stream_source), so the
    per-batch state TRAJECTORY — not just the final state — is join-able
    against a SQL oracle that reconstructs the same batches with NTILE.
    A state-counter seq would instead number only the batches in which the
    key happened to appear, which no SQL oracle can see."""

    def step(key, total, batch, _seq):
        mn, mx = int(batch[batch_col].min()), int(batch[batch_col].max())
        if mn != mx:
            raise ValueError(f"mixed batch ids in one micro-batch: {mn}..{mx}")
        total = (total or 0) + len(batch)
        return total, pd.DataFrame(
            {
                "key": [str(key[0])],
                "seq": [mn],
                "batch_events": [len(batch)],
                "running_total": [total],
            }
        )

    return keyed_fold(stream_df, [key_col], _COUNT_BATCH_OUT, step)


_CMS_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("probe_id", LongType()),
        StructField("cms_est", LongType()),
    ]
)


def running_cms_estimates(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    probe_ids: list[int],
    eps: float = 0.0001,
    confidence: float = 0.999,
    seed: int = 42,
) -> DataFrame:
    """Per-key running Count-Min Sketch across micro-batches — the
    reference's updateStateByKey+CMS heart, on the state store.

    State per key = serialized NumpyCMS of the value column; every batch
    merges the new values in and re-emits point-query estimates for the
    probe ids. The *last* emission per (key, probe) equals the batch-exact
    count (eps chosen collision-free at fixture cardinality), which is the
    oracle. Sketch bytes stay bounded (eps/confidence), so state size is
    O(keys), independent of stream length — the property that makes this
    viable at 100 TB.
    """
    probes = np.array(probe_ids, dtype=np.int64)

    def step(key, cms, batch, _seq):
        if cms is None:
            cms = NumpyCMS.from_params(eps, confidence, seed)
        cms.add_longs(batch[value_col].to_numpy(dtype=np.int64))
        est = cms.estimate_longs(probes)
        return cms, pd.DataFrame(
            {"key": str(key[0]), "probe_id": probes, "cms_est": est}
        )

    return keyed_fold(stream_df, [key_col], _CMS_OUT, step)


_BLOOM_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("batch_new", LongType()),
        StructField("running_distinct", LongType()),
    ]
)


def running_bloom_distinct(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    expected_items: int = 100_000,
    fpp: float = 1e-9,
    seed: int = 42,
) -> DataFrame:
    """Per-key running Bloom filter across micro-batches: counts values
    never seen before for this key (approximate distinct-new detection —
    the reference's membership use-case on the state store).

    fpp is set so low that false positives are ~0 at fixture scale, making
    the final running_distinct equal to the exact per-key COUNT(DISTINCT)
    — the oracle. No false negatives => never double-counts a new value.
    """

    def step(key, acc, batch, _seq):
        bloom, n_distinct = acc or (NumpyBloom.from_params(expected_items, fpp, seed), 0)
        # dedup within the batch, then test against the filter
        vals = np.unique(batch[value_col].to_numpy(dtype=np.int64))
        new_vals = vals[~bloom.might_contain_longs(vals)]
        bloom.add_longs(new_vals)
        batch_new = int(len(new_vals))
        n_distinct += batch_new
        return (bloom, n_distinct), pd.DataFrame(
            {"key": [str(key[0])], "batch_new": [batch_new], "running_distinct": [n_distinct]}
        )

    return keyed_fold(stream_df, [key_col], _BLOOM_OUT, step)


_SESS_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("session_start_us", LongType()),
        StructField("n_events", LongType()),
        StructField("closed_by", StringType()),
    ]
)
_SESS_STATE = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


def sessionize_with_timeout(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Session windows as a CUSTOM stateful operator with EVENT-TIME
    TIMEOUTS — the part of stateful processing the built-in
    ``session_window`` hides: an open session must eventually close even
    if its key never sends another event. State per key is the open
    session (start, last, count); a new event either extends it or (gap
    exceeded) emits it closed_by='gap' and starts fresh; when the
    watermark passes last_event + gap with no new data for the key, the
    state store fires the timeout path (``state.hasTimedOut``) and the
    session emits closed_by='timeout'. State is O(active keys) and every
    entry carries a timeout timestamp, so abandoned keys cannot accrete —
    the invariant that keeps a 100 TB stream's state bounded.
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def update(key, pdfs, state: GroupState):
        out = {"key": [], "session_start_us": [], "n_events": [], "closed_by": []}
        if state.hasTimedOut:
            start, last, n = state.get
            out["key"].append(str(key[0]))
            out["session_start_us"].append(start)
            out["n_events"].append(n)
            out["closed_by"].append("timeout")
            state.remove()
            yield pd.DataFrame(out)
            return
        ts_us = np.sort(
            np.concatenate(
                [pdf[ts_col].to_numpy(dtype="datetime64[us]").astype(np.int64) for pdf in pdfs]
            )
        )
        if state.exists:
            start, last, n = state.get
        else:
            start = last = int(ts_us[0])
            n = 0
            ts_us = ts_us  # first event counted in the loop below
        for t in ts_us.tolist():
            if n > 0 and t - last > gap_us:
                out["key"].append(str(key[0]))
                out["session_start_us"].append(start)
                out["n_events"].append(n)
                out["closed_by"].append("gap")
                start = t
                n = 0
            n += 1
            last = t
        state.update((start, last, n))
        # close the open session when the event-time watermark passes
        # last + gap (ms precision: the state API takes epoch millis)
        state.setTimeoutTimestamp((last + gap_us) // 1000)
        yield pd.DataFrame(out)

    return stream_df.groupBy(key_col).applyInPandasWithState(
        update, _SESS_OUT, _SESS_STATE, "append", GroupStateTimeout.EventTimeTimeout
    )


_FIRST_SEEN_OUT = StructType(
    [
        StructField("band", LongType()),
        StructField("doc", LongType()),
        StructField("owner", LongType()),
    ]
)
_FIRST_SEEN_SHARDS = 64


def first_seen_flags(stream_df: DataFrame, band_col: str = "band", bucket_col: str = "bucket", doc_col: str = "doc") -> DataFrame:
    """Streaming first-seen index over (band, bucket): the stateful heart
    of STREAMING MinHash-LSH dedup and the winnowing contamination gate.
    The first doc id ever to occupy a bucket owns it; every later arrival
    is emitted as a duplicate candidate (doc, owner). With the replay
    source ordered by doc id, "first seen" == global min, so the output
    equals the batch SQL ``doc > MIN(doc) OVER (PARTITION BY band,
    bucket)`` — which is the oracle.

    SHARDED state layout (r9 — the r8 per-bucket layout made the Python
    group-dispatch the bottleneck: ~70k distinct winnowing fingerprints
    meant ~70k pandas calls per replay, ~10 s of pure per-group overhead):
    group key is (band, bucket mod 64), state per shard is the
    shard's occupied buckets as SORTED parallel int64 arrays (buckets,
    owners). Each micro-batch does ONE
    vectorized numpy pass per shard — searchsorted membership, first-
    occurrence-per-new-bucket via flatnonzero, merge — so Python
    invocations are O(shards) per batch regardless of key cardinality,
    while total state stays the same O(distinct buckets) int64 pairs.
    At 100 TB this is the fixed-size "have I seen this region of
    signature space" index that lets ingest flag near-dups ONLINE instead
    of re-running a corpus-wide pair join per batch.

    Determinism: within a batch rows are sorted by (bucket, doc) before
    ownership is assigned; across batches the mtime-ordered replay source
    fixes arrival order.

    EXACTNESS CONTRACT — exact for EVERY bucket type (r11): integer
    buckets keep their int64 value as state identity; any other type is
    cast to string and stored as its EXACT length-prefixed utf-8 bytes in
    the shard's state array (fixed-width S dtype, widened on demand)
    — only SHARD ASSIGNMENT hashes, so two
    distinct buckets can never merge and the output is always the batch
    SQL ``doc > MIN(doc) OVER (PARTITION BY band, bucket)``. Integer
    packing (as the LSH/winnowing callers do) remains the FAST path:
    8 bytes/bucket vs 8+len(bucket), and pure int64 compares.
    """

    def _fold(b, d, sb, so):
        """Shared vectorized first-seen pass: works identically on int64
        bucket ids and fixed-width S-dtype exact byte keys (both sort,
        searchsorted, and concatenate the same way). Returns the merged
        sorted state arrays, the duplicate docs and their owners."""
        order = np.lexsort((d, b))
        b, d = b[order], d[order]
        if len(sb):
            idx = np.minimum(np.searchsorted(sb, b), len(sb) - 1)
            known = sb[idx] == b
        else:
            idx = np.zeros(len(b), dtype=np.int64)
            known = np.zeros(len(b), dtype=bool)
        out_doc = [d[known]]  # every arrival into an owned bucket is a dup
        out_own = [so[idx[known]]]
        bu, du = b[~known], d[~known]
        if len(bu):
            starts = np.flatnonzero(np.r_[True, bu[1:] != bu[:-1]])
            counts = np.diff(np.r_[starts, len(bu)])
            owners = du[starts]  # min doc per new bucket (sorted above)
            dup_mask = np.ones(len(bu), dtype=bool)
            dup_mask[starts] = False
            out_doc.append(du[dup_mask])
            out_own.append(np.repeat(owners, counts)[dup_mask])
            merged_b = np.concatenate([sb, bu[starts]])
            merged_o = np.concatenate([so, owners])
            o2 = np.argsort(merged_b, kind="stable")
            sb, so = merged_b[o2], merged_o[o2]
        return (sb, so), np.concatenate(out_doc), np.concatenate(out_own)

    def _emit(key, dups, owners):
        return pd.DataFrame(
            {
                "band": np.full(len(dups), int(key[0]), dtype=np.int64),
                "doc": dups,
                "owner": owners,
            }
        )

    empty = np.array([], dtype=np.int64)

    def step(key, acc, batch, _seq):
        b = batch["_fs_bid"].to_numpy(dtype=np.int64)
        d = batch[doc_col].to_numpy(dtype=np.int64)
        acc, dups, owners = _fold(b, d, *(acc or (empty, empty)))
        return acc, _emit(key, dups, owners)

    def step_bytes(key, acc, batch, _seq):
        # EXACT identity for non-integer buckets: 4-byte big-endian length
        # prefix + raw utf-8 bytes, held in a fixed-width NUL-padded S
        # array. The prefix disambiguates the padding ("a" vs "a\x00"
        # would otherwise alias), so distinct buckets can NEVER merge —
        # unlike a 64-bit hash identity. The state array is widened on
        # demand (astype pads with NUL, which the prefix makes
        # identity-safe).
        raw = batch["_fs_bkey"].to_numpy(dtype=object)
        d = batch[doc_col].to_numpy(dtype=np.int64)
        b = np.array(
            [len(v).to_bytes(4, "big") + bytes(v) for v in raw], dtype=bytes
        )
        sb, so = acc or (np.array([], dtype=b.dtype), empty)
        if sb.dtype.itemsize > b.dtype.itemsize:
            b = b.astype(sb.dtype)
        elif b.dtype.itemsize > sb.dtype.itemsize:
            sb = sb.astype(b.dtype)
        acc, dups, owners = _fold(b, d, sb, so)
        return acc, _emit(key, dups, owners)

    # Bucket identity: native int64 for integer buckets (the fast path —
    # 8 bytes/entry, pure integer compares); EXACT utf-8 bytes for any
    # other type (state stores the value itself). Hashing is used only
    # for SHARD ASSIGNMENT, which affects routing, never identity.
    dtypes = dict(stream_df.dtypes)
    if dtypes.get(bucket_col) in ("bigint", "int", "smallint", "tinyint"):
        sharded = stream_df.withColumn(
            "_fs_bid", F.col(bucket_col).cast("long")
        ).withColumn(
            "_fs_shard",
            F.pmod(F.col("_fs_bid"), F.lit(_FIRST_SEEN_SHARDS)).cast("long"),
        )
        fold_fn = step
    else:
        sharded = stream_df.withColumn(
            "_fs_bkey", F.encode(F.col(bucket_col).cast("string"), "UTF-8")
        ).withColumn(
            "_fs_shard",
            F.pmod(F.xxhash64(F.col(bucket_col).cast("string")),
                   F.lit(_FIRST_SEEN_SHARDS)).cast("long"),
        )
        fold_fn = step_bytes
    return keyed_fold(sharded, [band_col, "_fs_shard"], _FIRST_SEEN_OUT, fold_fn)


# ---------------------------------------------------------------------------
# Sharded sketch state: the counting-Bloom counter array maintained IN the
# state store across micro-batches, with retraction (negative deltas).

_SHARD_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("counters", BinaryType()),
    ]
)


def sharded_counter_state(stream_df: DataFrame, shard_bits: int = 10) -> DataFrame:
    """Maintain a GLOBAL int64 counter array (e.g. a counting Bloom
    filter's counters) in the state store, sharded by position range:
    group key = ``pos >> shard_bits``, state per shard = a dense
    ``int64[2**shard_bits]`` block (8 KB at the default), updated with
    ``np.add.at`` from the batch's signed (pos, d) deltas — INSERTS and
    RETRACTIONS alike, since counters form an abelian group.

    Emits each touched shard's full counter block with a monotone ``seq``
    per batch; the LAST block per shard (``max_by(counters, seq)``) is
    the final sketch. This is the 100 TB shape for "keep the sketch
    online": deltas shuffle to their shard (state-store partitioning),
    state size is O(n_counters) bytes TOTAL regardless of stream length,
    and reading the sketch out is O(shards) rows — the data never
    re-accumulates anywhere.

    Expects columns ``pos long, d long``; ``shard`` must already be
    ``pos >> shard_bits`` (added by the caller so the groupBy key is a
    plain column).
    """
    width = 1 << shard_bits

    def step(key, counters, batch, seq):
        shard = int(key[0])
        if counters is None:
            counters = np.zeros(width, dtype=np.int64)
        pos = batch["pos"].to_numpy(dtype=np.int64) - (shard << shard_bits)
        np.add.at(counters, pos, batch["d"].to_numpy(dtype=np.int64))
        return counters, pd.DataFrame(
            {
                "shard": np.array([shard], dtype=np.int64),
                "seq": np.array([seq], dtype=np.int64),
                "counters": [counters.tobytes()],
            }
        )

    return keyed_fold(stream_df, ["shard"], _SHARD_OUT, step)


# ---------------------------------------------------------------------------
# Generational Bloom dedup: duplicate detection over an UNBOUNDED stream in
# BOUNDED memory (the Deng & Rafiei stable-Bloom problem, solved with
# deterministic generation rotation instead of probabilistic decrement).

_GENB_OUT = StructType([StructField("event_id", LongType())])


def generational_bloom_dedup(
    stream_df: DataFrame,
    window_us: int,
    expected_items: int = 10_000,
    fpp: float = 1e-9,
    seed: int = 42,
) -> DataFrame:
    """Flag stream rows whose key hash was seen in the CURRENT or PREVIOUS
    time generation (bucket of ``window_us``): retention-bounded dedup
    whose state is exactly TWO Bloom filters per shard, FOREVER — O(bits)
    regardless of stream length or key cardinality, unlike exact
    stream dedup whose state grows with distinct keys until watermark
    eviction. When the stream's bucket advances, ``prev <- cur`` and a
    fresh ``cur`` starts (a jump of ≥2 buckets empties both) — the
    deterministic analogue of the stable Bloom filter's random decay.

    Expects columns ``shard long`` (route each key's hash to a fixed
    shard), ``event_id long`` (arrival order — the replay source is
    mtime-ordered and event_id-monotone), ``ts_us long``, ``h long``
    (key hash). Emits the event_ids flagged as duplicates.

    Exactness regime: with fpp tiny at fixture scale the filters have no
    false positives and Bloom filters never have false negatives, so the
    flagged set equals the exact SQL "exists an earlier same-key row in
    my or the previous bucket" — the oracle.
    """

    def fresh() -> NumpyBloom:
        return NumpyBloom.from_params(expected_items, fpp, seed)

    def step(key, acc, batch, _seq):
        pdf = batch.sort_values("event_id")
        cur_gen, cur, prev = acc or (
            int(pdf["ts_us"].iloc[0]) // window_us, fresh(), fresh()
        )
        flagged = []
        for g, grp in pdf.groupby(pdf["ts_us"] // window_us, sort=True):
            g = int(g)
            if g > cur_gen:
                if g == cur_gen + 1:
                    prev, cur = cur, fresh()
                else:
                    prev, cur = fresh(), fresh()
                cur_gen = g
            hs = grp["h"].to_numpy(dtype=np.int64)
            state_hit = cur.might_contain_longs(hs) | prev.might_contain_longs(hs)
            # earlier occurrence within this same bucket-group (always in
            # window); earlier same-batch groups are already inserted in cur
            in_group = grp["h"].duplicated(keep="first").to_numpy()
            cur.add_longs(hs)
            flagged.append(grp.loc[state_hit | in_group, "event_id"].to_numpy(np.int64))
        return (cur_gen, cur, prev), pd.DataFrame({"event_id": np.concatenate(flagged)})

    return keyed_fold(stream_df, ["shard"], _GENB_OUT, step)


# ---------------------------------------------------------------------------
# Generational distinct-hash state: sliding-window COUNT(DISTINCT) over an
# unbounded stream in O(k) state per shard (two KMV-style hash sets that
# rotate with the time bucket, exact while distinct <= k).

_GENK_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("cur_gen", LongType()),
        StructField("n_window", LongType()),
        StructField("n_cur", LongType()),
    ]
)


def _kmv_estimate(bottom_k: np.ndarray, k: int, saturated: bool) -> int:
    """Distinct count from a bottom-k (KMV) set of signed int64 hashes,
    sorted ascending: exact ``len`` while nothing was ever truncated,
    else the KMV estimator (k-1)/u_k with u_k = the k-th smallest hash
    mapped to (0, 1) via the signed->unit shift."""
    if not saturated or len(bottom_k) < k:
        return len(bottom_k)
    u_k = (float(bottom_k[k - 1]) + 2.0**63 + 1.0) / 2.0**64
    return max(len(bottom_k), int(round((k - 1) / u_k)))


def generational_kmv_distinct(
    stream_df: DataFrame, window_us: int, k: int = 65_536
) -> DataFrame:
    """Sliding-window distinct count over an unbounded stream with
    BOUNDED state: per shard, two sorted hash sets (current and previous
    time generation), each truncated KMV-style to the k smallest hashes —
    exact while a shard's window distinct stays <= k, the calibrated KMV
    estimate (k-1)/u_k beyond. Rotation mirrors ``generational_bloom_dedup``.

    Per-shard clocks LAG the global stream clock (a shard only advances
    when its keys arrive), so emissions carry (cur_gen, |cur ∪ prev|,
    |cur|) and the READ side aligns generations: with G = max cur_gen
    across shards, a shard contributes |cur ∪ prev| if its cur_gen == G,
    |cur| if cur_gen == G-1 (its prev generation has rotated out of the
    global window), else 0. Expects ``shard long, event_id long,
    ts_us long, h long``; ``seq`` is a per-shard batch counter so
    ``max_by(..., seq)`` reads each shard's LAST emission.
    """

    def step(key, acc, batch, seq):
        empty64 = np.array([], dtype=np.int64)
        pdf = batch.sort_values("event_id")
        cur_gen, cur, prev = acc or (
            int(pdf["ts_us"].iloc[0]) // window_us, empty64, empty64
        )
        for g, grp in pdf.groupby(pdf["ts_us"] // window_us, sort=True):
            g = int(g)
            if g > cur_gen:
                prev = cur if g == cur_gen + 1 else empty64
                cur = empty64
                cur_gen = g
            hs = grp["h"].to_numpy(dtype=np.int64)
            cur = np.unique(np.concatenate([cur, hs]))[:k]
        # a set is a candidate for the KMV estimator only once it has ever
        # hit the truncation cap; the union of two bottom-k sets, re-cut to
        # its k smallest, is itself a valid bottom-k sketch of the union
        sat_cur, sat_prev = len(cur) == k, len(prev) == k
        win = np.union1d(cur, prev)
        if sat_cur or sat_prev:
            win = win[:k]
        return (cur_gen, cur, prev), pd.DataFrame(
            {
                "shard": np.array([int(key[0])], dtype=np.int64),
                "seq": np.array([seq], dtype=np.int64),
                "cur_gen": np.array([cur_gen], dtype=np.int64),
                "n_window": np.array(
                    [_kmv_estimate(win, k, sat_cur or sat_prev)], dtype=np.int64
                ),
                "n_cur": np.array([_kmv_estimate(cur, k, sat_cur)], dtype=np.int64),
            }
        )

    return keyed_fold(stream_df, ["shard"], _GENK_OUT, step)


# ---------------------------------------------------------------------------
# Streaming as-of enrichment: nearest-earlier match maintained in state.

_ASOF_OUT = StructType(
    [StructField("event_id", LongType()), StructField("last_click_us", LongType())]
)


def streaming_asof_last(
    stream_df: DataFrame,
    key_col: str = "user_id",
    kind_col: str = "kind",
    match_kind: str = "click",
    probe_kind: str = "error",
) -> DataFrame:
    """ONLINE as-of join: for every ``probe_kind`` row, the timestamp of
    the nearest EARLIER (inclusive, with ``match_kind`` winning ties —
    the DuckDB ASOF ``>=`` convention) ``match_kind`` row of the same
    key. State per key is ONE int64 (the last match timestamp), so at
    100 TB this is the O(keys) enrichment tier that replaces re-running
    a batch as-of window per question; batch twin:
    plans/relational.py:asof_join_last_click_before_error.

    Expects ``key, kind, event_id long, ts_us long``; rows are processed
    in (ts_us, kind, event_id) order within the micro-batch and the
    replay source is ts-ordered across batches.
    """

    def step(key, last_us, batch, _seq):
        # explicit kind priority: match_kind BEFORE probe_kind at equal
        # ts_us, so the inclusive (>=) ASOF convention holds for any kind
        # pair, not just ones that happen to sort that way lexically
        pdf = batch.assign(_kprio=(batch[kind_col] != match_kind).astype(np.int8))
        pdf = pdf.sort_values(["ts_us", "_kprio", "event_id"])
        match_ts = pdf["ts_us"].where(pdf[kind_col] == match_kind).ffill()
        if last_us is not None:
            match_ts = match_ts.fillna(last_us)
        probes = pdf[kind_col] == probe_kind
        out_ts = match_ts[probes]
        new_last = pdf.loc[pdf[kind_col] == match_kind, "ts_us"]
        if len(new_last):
            last_us = int(new_last.iloc[-1])
        return last_us, pd.DataFrame(
            {
                "event_id": pdf.loc[probes, "event_id"].to_numpy(np.int64),
                "last_click_us": pd.array(
                    [None if pd.isna(v) else int(v) for v in out_ts], dtype="Int64"
                ),
            }
        )

    return keyed_fold(stream_df, [key_col], _ASOF_OUT, step)


# ---------------------------------------------------------------------------
# Streaming range-count enrichment: per probe row, a running count of match
# rows inside a trailing horizon — the interval join maintained online.

_RANGE_OUT = StructType(
    [StructField("event_id", LongType()), StructField("purchases_7d", LongType())]
)


def streaming_range_counts(
    stream_df: DataFrame,
    horizon_us: int,
    key_col: str = "user_id",
    kind_col: str = "kind",
    probe_kind: str = "signup",
    match_kind: str = "purchase",
) -> DataFrame:
    """ONLINE interval join (the B9 range join maintained in state): each
    ``probe_kind`` row opens a window (ts, ts + horizon]; every
    ``match_kind`` arrival increments all open windows it falls in. Open
    windows live in state as three parallel int64 arrays; a window whose
    horizon has passed the batch's max timestamp is EVICTED after its
    final emission (the stream is ts-ordered, so it can never grow again)
    — state is O(windows open within one horizon) per key, the same bound
    a watermark would enforce. Counts only grow, so the final answer is
    max(count) per window across the append-mode emissions; batch twin:
    plans/relational.py:range_join_purchases_after_signup.
    """

    def step(key, acc, batch, _seq):
        empty64 = np.array([], dtype=np.int64)
        pdf = batch.sort_values(["ts_us", "event_id"])
        ids, tss, cnt = acc or (empty64, empty64, empty64)
        # vectorized batch apply (replaces a per-row loop): append this
        # batch's probe rows as new zero-count windows, then count each
        # window's in-horizon matches with two searchsorted calls over the
        # batch's sorted match timestamps. The strict lower bound tss < t
        # makes both same-timestamp semantics and "window opened mid-batch"
        # exact: a match at or before a window's open instant never counts.
        # Only match_kind rows increment — an unfiltered stream of other
        # kinds must not inflate the open windows.
        probes = pdf[pdf[kind_col] == probe_kind]
        ids = np.concatenate([ids, probes["event_id"].to_numpy(np.int64)])
        tss = np.concatenate([tss, probes["ts_us"].to_numpy(np.int64)])
        cnt = np.concatenate([cnt, np.zeros(len(probes), dtype=np.int64)])
        match_ts = np.sort(
            pdf.loc[pdf[kind_col] == match_kind, "ts_us"].to_numpy(np.int64)
        )
        if len(match_ts) and len(tss):
            lo = np.searchsorted(match_ts, tss, side="right")
            hi = np.searchsorted(match_ts, tss + horizon_us, side="right")
            cnt += hi - lo
        out = pd.DataFrame({"event_id": ids, "purchases_7d": cnt})
        # evict closed windows AFTER emitting their final counts
        t_max = int(pdf["ts_us"].iloc[-1])
        keep = tss + horizon_us >= t_max
        return (ids[keep], tss[keep], cnt[keep]), out

    return keyed_fold(stream_df, [key_col], _RANGE_OUT, step)


# ---------------------------------------------------------------------------
# DGIM sliding-window bit counting: the canonical O(log^2 W) sliding-window
# sketch (Datar, Gionis, Indyk, Motwani, SICOMP 2002) — counts the 1-bits in
# the trailing time window of an unbounded stream with at most two buckets
# per power-of-two size and <= 50% error on the oldest bucket's share.

_DGIM_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("n_buckets", LongType()),
        StructField("est_window_ones", LongType()),
    ]
)


def _dgim_ingest(
    ts: list[int], sz: list[int], ones, now: int, window_us: int,
    max_per_size: int = 2,
) -> tuple[list[int], list[int], int]:
    """Pure DGIM core (unit-testable without Spark): fold a ts-ascending
    run of 1-bit timestamps into the (ts, sz) bucket lists, evict buckets
    whose newest bit left the window, and return the estimate for
    (now - window_us, now]: full sizes of all live buckets minus half the
    oldest (its bits straddle the window edge). Invariants: ts ascending,
    at most ``max_per_size`` buckets per size, sizes are powers of two.

    ``max_per_size`` is the paper's accuracy knob (Datar-Gionis-Indyk-
    Motwani §5: ceil(1/r)+1 buckets per size gives relative error r/2 in
    O((1/r) log^2 W) state); the classic presentation is the default
    r=1 case. max_per_size >= total ones means no merge ever fires —
    the saturated regime the exactness witness pins."""
    for t in ones:
        ts.append(int(t))
        sz.append(1)
        s = 1
        while True:
            idxs = [j for j, v in enumerate(sz) if v == s]
            if len(idxs) <= max_per_size:
                break
            a, b = idxs[0], idxs[1]  # merge the two OLDEST of this size
            sz[b] = 2 * s  # merged bucket keeps the newer timestamp
            del ts[a], sz[a]
            s *= 2
    keep = [j for j, t in enumerate(ts) if t > now - window_us]
    ts = [ts[j] for j in keep]
    sz = [sz[j] for j in keep]
    est = sum(sz) - (sz[0] // 2 if sz else 0)
    return ts, sz, est


def dgim_window_count(
    stream_df: DataFrame, window_us: int, bit_col: str = "bit",
    max_per_size: int = 2,
) -> DataFrame:
    """Sliding-window 1-bit count over an unbounded stream in O(log^2 W)
    state per shard — DGIM, the classic companion of the Bloom/CMS
    streaming-sketch family. State per shard is two int64 arrays (bucket
    newest-timestamp, bucket size); arrivals cascade power-of-two merges,
    the window estimate charges every live bucket fully except half the
    oldest. Expects ``shard long, event_id long, ts_us long, <bit_col>
    long``; emits per micro-batch so ``max_by(..., seq)`` reads each
    shard's latest estimate."""

    def step(key, acc, batch, seq):
        pdf = batch.sort_values(["ts_us", "event_id"])
        ts, sz = acc or ([], [])
        ones = pdf.loc[pdf[bit_col] == 1, "ts_us"].to_numpy(np.int64)
        now = int(pdf["ts_us"].iloc[-1])
        ts, sz, est = _dgim_ingest(ts, sz, ones, now, window_us, max_per_size)
        return (ts, sz), pd.DataFrame(
            {
                "shard": np.array([int(key[0])], dtype=np.int64),
                "seq": np.array([seq], dtype=np.int64),
                "n_buckets": np.array([len(sz)], dtype=np.int64),
                "est_window_ones": np.array([est], dtype=np.int64),
            }
        )

    return keyed_fold(stream_df, ["shard"], _DGIM_OUT, step)


# ---------------------------------------------------------------------------
# Streaming Misra-Gries: the k-counter deterministic heavy-hitter summary
# maintained per shard in the state store — the online twin of the batch
# misra_gries_table_merge (mergeable-summaries algebra: batch exact counts
# ADD into the summary, then reduce back to k counters).

_MG_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("item", StringType()),
        StructField("mg_value", LongType()),
    ]
)


def misra_gries_state(
    stream_df: DataFrame, k: int, item_col: str = "item"
) -> DataFrame:
    """Per-shard Misra-Gries summary across micro-batches: state is at
    most k (item, counter) pairs — O(k) forever, independent of stream
    length or item cardinality. Each batch's exact counts (themselves a
    valid MG summary with zero offset) ADD into the state, then the
    standard reduction (subtract the (k+1)-th largest, drop non-positive)
    restores the k-counter bound; every surviving value is a lower bound
    within N_shard/k of the true count. Emits the full summary per batch;
    read the latest seq per shard and merge shard summaries by addition +
    the same reduction."""

    def step(key, counts, batch, seq):
        counts = counts or {}
        for it, c in batch[item_col].value_counts().items():
            counts[it] = counts.get(it, 0) + int(c)
        if len(counts) > k:
            off = sorted(counts.values(), reverse=True)[k]
            counts = {i: v - off for i, v in counts.items() if v - off > 0}
        order = sorted(counts)  # deterministic emission order
        return counts, pd.DataFrame(
            {
                "shard": np.full(len(order), int(key[0]), dtype=np.int64),
                "seq": np.full(len(order), seq, dtype=np.int64),
                "item": pd.Series(order, dtype="object"),
                "mg_value": np.array([counts[i] for i in order], dtype=np.int64),
            }
        )

    return keyed_fold(stream_df, ["shard"], _MG_OUT, step)


# ---------------------------------------------------------------------------
# Streaming bottom-k (hash-min) sample: the ONLINE form of the mergeable
# sample table (plans/sketch_queries.py:sample_sketch_table_merge) — a
# deterministic uniform sample of everything seen so far, maintained in O(k)
# state per shard, reproducible across engines because the priority is a
# hash, not an RNG.

_BK_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("h", LongType()),
        StructField("event_id", LongType()),
    ]
)


def bottomk_sample_state(stream_df: DataFrame, k: int) -> DataFrame:
    """Per-shard bottom-k hash-min sample across micro-batches: state is
    the k smallest (hash, id) pairs seen so far — new data can only
    displace larger hashes, so the sample is incrementally maintainable
    and the global k-sample is the bottom-k of the shard partials
    (min-wise union). Expects ``shard long, event_id long, h long`` with
    ``h`` an engine-portable hash (md5-derived); emits the full current
    sample per batch, read the latest ``seq`` per shard and re-truncate."""

    def step(key, acc, batch, seq):
        empty64 = np.array([], dtype=np.int64)
        hs, ids = acc or (empty64, empty64)
        hs = np.concatenate([hs, batch["h"].to_numpy(np.int64)])
        ids = np.concatenate([ids, batch["event_id"].to_numpy(np.int64)])
        order = np.lexsort((ids, hs))[:k]  # k smallest by (h, id)
        hs, ids = hs[order], ids[order]
        return (hs, ids), pd.DataFrame(
            {
                "shard": np.full(len(hs), int(key[0]), dtype=np.int64),
                "seq": np.full(len(hs), seq, dtype=np.int64),
                "h": hs,
                "event_id": ids,
            }
        )

    return keyed_fold(stream_df, ["shard"], _BK_OUT, step)


_CUSUM_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("changepoint_day", StringType()),
        StructField("cusum_scaled", LongType()),
        StructField("d_days", LongType()),
        StructField("n_total", LongType()),
    ]
)


def _fold_day_counts(days: dict, pdf: pd.DataFrame, day_col: str) -> None:
    """Fold a batch's per-day counts into the day->count histogram."""
    for day, c in pdf.groupby(day_col).size().items():
        days[day] = days.get(day, 0) + int(c)


def streaming_cusum_daily(
    stream_df: DataFrame, key_col: str, day_col: str
) -> DataFrame:
    """Per-key CUSUM changepoint detection maintained ONLINE — the streaming
    twin of the batch cusum_changepoint_daily scan, sharing its exact
    integer-rescaled statistic (S'_d = D * cumsum(c) - d * N). State per
    key is the day->count histogram: O(days) integers, independent of
    event volume — a year of stream costs 365 longs per key no matter how
    many events arrived, so the detector runs forever at 100 TB/day.

    Every batch folds its per-day counts into the histogram and re-emits
    the current argmax-|S'| day; the LAST emission per key (max seq) equals
    the batch scan over the full series, which is the oracle. Ties break
    (|S'| desc, day asc), matching the batch query.
    """
    def step(key, days, batch, seq):
        days = days or {}
        _fold_day_counts(days, batch, day_col)
        ordered = sorted(days)
        counts = np.array([days[d] for d in ordered], dtype=np.int64)
        cum = np.cumsum(counts)
        d_days = np.int64(len(ordered))
        n_total = np.int64(cum[-1])
        walk = d_days * cum - np.arange(1, d_days + 1, dtype=np.int64) * n_total
        best = int(np.argmax(np.abs(walk)))  # first index at the max = day asc
        return days, pd.DataFrame(
            {
                "key": [str(key[0])],
                "seq": [seq],
                "changepoint_day": [ordered[best]],
                "cusum_scaled": [int(walk[best])],
                "d_days": [int(d_days)],
                "n_total": [int(n_total)],
            }
        )

    return keyed_fold(stream_df, [key_col], _CUSUM_OUT, step)


_SPRT_OUT = StructType(
    [
        StructField("seq", LongType()),
        StructField("decision", StringType()),
        StructField("n_decided", LongType()),
        StructField("k_decided", LongType()),
        StructField("llr", StringType()),  # repr() for bit-exact transport
    ]
)


def streaming_sprt(
    stream_df: DataFrame,
    order_col: str,
    success_col: str,
    c1: float,
    c0: float,
    upper: float,
    lower: float,
) -> DataFrame:
    """Wald's SPRT maintained ONLINE: O(1) state (two counters + the frozen
    decision), every batch walks its rows in order and freezes at the
    first boundary crossing. Each row's LLR is computed by the CLOSED FORM
    k*c1 + (n-k)*c0 on the running totals — never an incremental float
    cumsum — so the walk, the stopping time, and the decision are
    bit-identical to the batch query regardless of micro-batch boundaries.

    A sequential test is one decision process, so rows funnel to a single
    state group — the data reaching it should already be a thin
    (order, success) projection; the decision column freezes permanently
    once a boundary is crossed (later batches re-emit it unchanged).
    """

    def step(key, acc, batch, seq):
        n, k, decided, n_dec, k_dec = acc or (0, 0, "", 0, 0)
        if not decided:
            batch = batch.sort_values(order_col)
            x = batch[success_col].to_numpy(np.int64)
            k_cum = k + np.cumsum(x)
            n_cum = n + np.arange(1, len(x) + 1, dtype=np.int64)
            llr = k_cum * c1 + (n_cum - k_cum) * c0
            crossing = (llr >= upper) | (llr <= lower)
            if crossing.any():
                first = int(np.argmax(crossing))
                decided = "accept_h1" if llr[first] >= upper else "accept_h0"
                n_dec, k_dec = int(n_cum[first]), int(k_cum[first])
            n, k = int(n_cum[-1]), int(k_cum[-1])
        else:
            n += len(batch)
            k += int(batch[success_col].sum())
        out_n, out_k = (n_dec, k_dec) if decided else (n, k)
        out_llr = out_k * c1 + (out_n - out_k) * c0
        return (n, k, decided, n_dec, k_dec), pd.DataFrame(
            {
                "seq": [seq],
                "decision": [decided or "continue"],
                "n_decided": [out_n],
                "k_decided": [out_k],
                "llr": [repr(out_llr)],
            }
        )

    return keyed_fold(stream_df.withColumn("g", F.lit("all")), ["g"], _SPRT_OUT, step)


_IBLT_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("blob", BinaryType()),
    ]
)


def iblt_cells_state(cell_df: DataFrame) -> DataFrame:
    """Maintain IBLT cells ONLINE: the input is the pre-exploded cell
    stream (columns shard, cell, key, g — k rows per arriving key, cell
    math already done JVM-side), and each shard's state is its slice of
    the (count, key-XOR, checksum-XOR) table — O(m / n_shards) longs
    forever, the abelian-group sketch shape (same family as the sharded
    counting-Bloom retraction state): updates commute, so any batch
    arrival order yields the same cells.

    Emits the shard's cell slice each batch as int64 rows (cell, count,
    key-XOR, checksum-XOR) packed into one blob; the LAST emission
    (max seq) is the complete streamed-side table, ready for cell-wise
    subtraction + driver peeling against any at-rest IBLT.
    """
    def step(key, cells, batch, seq):
        cells = cells or {}
        cs = batch["cell"].to_numpy(np.int64)
        ks = batch["key"].to_numpy(np.int64)
        gs = batch["g"].to_numpy(np.int64)
        for c, kk, g in zip(cs.tolist(), ks.tolist(), gs.tolist()):
            cur = cells.get(c)
            if cur is None:
                cells[c] = [1, kk, g]
            else:
                cur[0] += 1
                cur[1] ^= kk
                cur[2] ^= g
        blob = np.array([[c, *v] for c, v in cells.items()], dtype=np.int64).tobytes()
        return cells, pd.DataFrame({"shard": [int(key[0])], "seq": [seq], "blob": [blob]})

    return keyed_fold(cell_df, ["shard"], _IBLT_OUT, step)


_TBUCKET_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("n_admitted", LongType()),
        StructField("n_rejected", LongType()),
    ]
)


def token_bucket_admission(
    stream_df: DataFrame,
    key_col: str,
    ts_us_col: str,
    order_col: str,
    cost_us: int,
    cap_us: int,
) -> DataFrame:
    """Per-key token-bucket admission control — the quota/rate-limiting
    operator every ingestion edge runs: a bucket of ``cap_us`` capacity
    refills continuously in EVENT TIME (1 unit per microsecond) and each
    arriving row is admitted iff the bucket holds ``cost_us``; rejected
    rows do not drain it. The whole recurrence
    b_i = min(cap, b_{i-1} + dt_i) runs in int64 microsecond units — no
    float refill arithmetic — so admission decisions are exact and the
    operator shares a recursive-CTE oracle. State per key is four longs
    (balance, last event time, counters): O(keys) forever, and a silent
    key costs nothing (refill is computed lazily from the timestamp gap
    at its next arrival, not by timers).
    """

    def step(key, acc, batch, seq):
        fresh = acc is None
        bal, t, adm, rej = acc or (0, 0, 0, 0)
        batch = batch.sort_values([ts_us_col, order_col])
        for tt in batch[ts_us_col].astype(np.int64).tolist():
            if fresh:
                bal, fresh = cap_us, False
            else:
                bal = min(cap_us, bal + (tt - t))
            if bal >= cost_us:
                bal -= cost_us
                adm += 1
            else:
                rej += 1
            t = tt
        return (bal, t, adm, rej), pd.DataFrame(
            {
                "key": [str(key[0])],
                "seq": [seq],
                "n_admitted": [adm],
                "n_rejected": [rej],
            }
        )

    return keyed_fold(stream_df, [key_col], _TBUCKET_OUT, step)


_INVWIN_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("window_count", LongType()),
        StructField("live_buckets", LongType()),
    ]
)


def inverse_windowed_counts(
    stream_df: DataFrame, key_col: str, bucket_col: str, window_buckets: int
) -> DataFrame:
    """The reference era's ``reduceByKeyAndWindow(func, invFunc)``
    modernized: a trailing event-time window maintained INCREMENTALLY —
    each batch ADDS its per-bucket deltas to the running total and
    SUBTRACTS (the inverse reduce) buckets that slid out of the trailing
    horizon, instead of recomputing the window from scratch. Works for
    any abelian-group aggregate; counts here. State per key is the live
    bucket ring: O(window_buckets) longs, independent of event volume.

    The trailing window is bucket-aligned — [newest_bucket -
    (window_buckets - 1), newest_bucket] — so the final emission equals a
    closed-form batch query over the same bucket arithmetic (the oracle).
    """
    def step(key, buckets, batch, seq):
        buckets = buckets or {}
        for bk, c in batch.groupby(bucket_col).size().items():
            buckets[int(bk)] = buckets.get(int(bk), 0) + int(c)
        if buckets:
            horizon = max(buckets) - (window_buckets - 1)
            for bk in [b for b in buckets if b < horizon]:
                del buckets[bk]  # the inverse reduce: slide out, subtract
        return buckets, pd.DataFrame(
            {
                "key": [str(key[0])],
                "seq": [seq],
                "window_count": [sum(buckets.values())],
                "live_buckets": [len(buckets)],
            }
        )

    return keyed_fold(stream_df, [key_col], _INVWIN_OUT, step)


_EWMA_OUT = StructType(
    [
        StructField("seq", LongType()),
        StructField("day", StringType()),
        StructField("ewma_raw", StringType()),  # repr() for bit-exact transport
        StructField("z_raw", StringType()),
    ]
)


def streaming_ewma_chart(stream_df: DataFrame, day_col: str) -> DataFrame:
    """The EWMA control chart maintained ONLINE: O(days) state (the
    day->count histogram), re-emitting the full smoothed series each
    batch. lambda = 1/2 keeps every weight a power of two, so the
    sequential numpy recursion e_d = (e_{d-1} + c_d) / 2 is EXACT dyadic
    arithmetic — bit-equal to the batch query's closed-form double sum no
    matter how batches split the stream. Control-limit z uses the same
    integer-moment expression order as the batch plan."""
    def step(key, days, batch, seq):
        days = days or {}
        _fold_day_counts(days, batch, day_col)
        ordered = sorted(days)
        counts = [days[d] for d in ordered]
        n = len(counts)
        s = sum(counts)
        ss = sum(c * c for c in counts)
        mean = s * 1.0 / n
        var = (ss - s * s * 1.0 / n) / n
        es, zs = [], []
        e = 0.0
        for d, c in enumerate(counts, start=1):
            e = float(c) if d == 1 else (e + c) / 2.0
            z = (e - mean) / ((var * (1.0 / 3.0) * (1 - 0.25**d)) ** 0.5)
            es.append(repr(e))
            zs.append(repr(z))
        return days, pd.DataFrame(
            {"seq": [seq] * n, "day": ordered, "ewma_raw": es, "z_raw": zs}
        )

    return keyed_fold(stream_df.withColumn("g", F.lit("all")), ["g"], _EWMA_OUT, step)


# ---------------------------------------------------------------------------
# Streaming SpaceSaving (Metwally, Agrawal, El Abbadi, ICDT 2005): the
# OVERestimate-side heavy-hitter summary completing the counter pair with
# Misra-Gries (whose values are lower bounds). k (item, count, err) counters
# per shard; a new item evicts the minimum counter and inherits its count+1
# with err = the evicted count, so count >= true >= count - err and the
# counts CONSERVE the substream length (sum(count) == N_shard).

_SS_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("item", StringType()),
        StructField("ss_count", LongType()),
        StructField("ss_err", LongType()),
    ]
)


def _ss_ingest(
    counts: dict, errs: dict, items_seq, k: int
) -> tuple[dict, dict]:
    """Pure SpaceSaving core (unit-testable without Spark): fold an
    ORDERED run of items into the k-counter summary. Monitored items
    increment; new items take a free counter or evict the minimum
    (deterministic (count, item) tie-break), inheriting min+1 with
    err = min. Invariants: len(counts) <= k, sum(counts) == items seen,
    count >= true >= count - err for every monitored item."""
    for it in items_seq:
        if it in counts:
            counts[it] += 1
        elif len(counts) < k:
            counts[it] = 1
            errs[it] = 0
        else:
            mk, mv = min(counts.items(), key=lambda kv: (kv[1], kv[0]))
            del counts[mk]
            errs.pop(mk, None)
            counts[it] = mv + 1
            errs[it] = mv
    return counts, errs


def space_saving_state(
    stream_df: DataFrame, k: int, item_col: str = "item"
) -> DataFrame:
    """Per-shard SpaceSaving summary across micro-batches: O(k) state
    forever. Batches fold in deterministic (ts_us, event_id) order (the
    algorithm is order-dependent; the mtime-ordered file source plus this
    sort makes every run identical). Fast path: when the batch introduces
    no eviction pressure (existing items + batch items <= k counters),
    the fold collapses to a vectorized value_counts add — the exact
    regime, where counts are exact and errs stay 0. Shards partition the
    key space, so per-shard summaries answer global queries by addition
    (counts and error bounds both add)."""

    def step(key, acc, batch, seq):
        counts, errs = acc or ({}, {})
        batch_items = batch.sort_values(["ts_us", "event_id"])[item_col]
        if len(set(batch_items) | set(counts)) <= k:
            for it, c in batch_items.value_counts().items():
                counts[it] = counts.get(it, 0) + int(c)
                errs.setdefault(it, 0)
        else:
            counts, errs = _ss_ingest(counts, errs, batch_items.tolist(), k)
        order = sorted(counts)
        return (counts, errs), pd.DataFrame(
            {
                "shard": np.full(len(order), int(key[0]), dtype=np.int64),
                "seq": np.full(len(order), seq, dtype=np.int64),
                "item": pd.Series(order, dtype="object"),
                "ss_count": np.array([counts[i] for i in order], dtype=np.int64),
                "ss_err": np.array([errs[i] for i in order], dtype=np.int64),
            }
        )

    return keyed_fold(stream_df, ["shard"], _SS_OUT, step)


# ---------------------------------------------------------------------------
# Streaming OLS by sufficient statistics: online model fitting whose FINAL
# coefficients hash-equal the batch least-squares fit. The regression state
# per key is five integers (n, sum x, sum y*1e6, sum x^2, sum x*y*1e6) —
# y is carried as its exact 6-decimal scaled integer, so the sums are exact,
# order-free, and mergeable, and the closed-form slope/intercept computed
# from them is the SAME double chain in any engine.

_OLS_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("n", LongType()),
        StructField("sx", LongType()),
        StructField("sy6", LongType()),
        StructField("sxx", LongType()),
        StructField("sxy6", LongType()),
    ]
)


def ols_sufficient_stats(
    stream_df: DataFrame, x_col: str = "x", y6_col: str = "y6"
) -> DataFrame:
    """Per-key online least squares: each micro-batch folds vectorized
    integer sums into five state longs — O(1) state per key forever, no
    history re-read, and (because integer addition is a commutative
    monoid) a final fit that provably cannot depend on micro-batch
    boundaries. Expects ``key string, <x_col> long, <y6_col> long`` where
    y6 is the exact 6-decimal scaled value; emits the running sums per
    batch, the read side applies the closed form."""

    def step(key, acc, batch, seq):
        n, sx, sy6, sxx, sxy6 = acc or (0, 0, 0, 0, 0)
        x = batch[x_col].to_numpy(np.int64)
        y6 = batch[y6_col].to_numpy(np.int64)
        n += len(x)
        sx += int(x.sum())
        sy6 += int(y6.sum())
        sxx += int((x * x).sum())
        sxy6 += int((x * y6).sum())
        return (n, sx, sy6, sxx, sxy6), pd.DataFrame(
            {
                "key": pd.Series([str(key[0])], dtype="object"),
                "seq": np.array([seq], dtype=np.int64),
                "n": np.array([n], dtype=np.int64),
                "sx": np.array([sx], dtype=np.int64),
                "sy6": np.array([sy6], dtype=np.int64),
                "sxx": np.array([sxx], dtype=np.int64),
                "sxy6": np.array([sxy6], dtype=np.int64),
            }
        )

    return keyed_fold(stream_df, ["key"], _OLS_OUT, step)


# ---------------------------------------------------------------------------
# Exponential histogram for sliding-window SUMS (Datar, Gionis, Indyk,
# Motwani, SICOMP 2002 §5): DGIM generalized from bits to bounded positive
# integers. An arriving value v enters as its binary decomposition (one
# bucket per set bit, same timestamp), and the canonical merge rule keeps at
# most k buckets per power-of-two size — state O(k log(W·R)) per shard, the
# window sum answered as all live buckets minus half the oldest.

_EH_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("n_buckets", LongType()),
        StructField("oldest_size", LongType()),
        StructField("est_window_sum", LongType()),
    ]
)


def _eh_ingest(
    ts: list[int], sz: list[int], arrivals, now: int, window_us: int, k: int
) -> tuple[list[int], list[int], int, int]:
    """Pure EH-for-sums core (unit-testable without Spark): fold a
    ts-ascending run of (t, v) pairs (v a positive integer) into the
    (ts, sz) bucket lists. Each v inserts one bucket per set bit of its
    binary decomposition; whenever more than k buckets share a size the
    two OLDEST merge into one of doubled size (the merged bucket keeps the
    newer timestamp). Evicts buckets whose newest element left the window
    and returns (ts, sz, estimate, oldest_size): estimate = full sizes of
    live buckets minus half the oldest (its mass straddles the edge), so
    |est - true| <= oldest_size / 2 by construction."""
    for t, v in arrivals:
        t, v = int(t), int(v)
        b = 1
        while v:
            if v & 1:
                # insert keeping ts ascending (same-t bits append in
                # increasing size, which preserves order)
                ts.append(t)
                sz.append(b)
                s = b
                while True:
                    idxs = [j for j, x in enumerate(sz) if x == s]
                    if len(idxs) <= k:
                        break
                    a, bb = idxs[0], idxs[1]
                    sz[bb] = 2 * s
                    del ts[a], sz[a]
                    s *= 2
            v >>= 1
            b <<= 1
    keep = [j for j, t in enumerate(ts) if t > now - window_us]
    ts = [ts[j] for j in keep]
    sz = [sz[j] for j in keep]
    est = sum(sz) - (sz[0] // 2 if sz else 0)
    return ts, sz, est, (sz[0] if sz else 0)


def eh_window_sum(
    stream_df: DataFrame, window_us: int, k: int = 4, val_col: str = "val"
) -> DataFrame:
    """Sliding-window SUM of a positive integer column over an unbounded
    stream in O(k log(W·R)) state per shard — the sums generalization of
    dgim_window_count (k=2 degenerates to DGIM's two-per-size rule).
    Expects ``shard long, event_id long, ts_us long, <val_col> long``;
    emits per micro-batch so ``max_by(..., seq)`` reads each shard's
    latest estimate; per-shard estimates and their oldest-bucket error
    bounds ADD across shards."""

    def step(key, acc, batch, seq):
        pdf = batch.sort_values(["ts_us", "event_id"])
        ts, sz = acc or ([], [])
        pos = pdf[pdf[val_col] > 0]
        arrivals = zip(
            pos["ts_us"].to_numpy(np.int64), pos[val_col].to_numpy(np.int64)
        )
        now = int(pdf["ts_us"].iloc[-1])
        ts, sz, est, oldest = _eh_ingest(ts, sz, arrivals, now, window_us, k)
        return (ts, sz), pd.DataFrame(
            {
                "shard": np.array([int(key[0])], dtype=np.int64),
                "seq": np.array([seq], dtype=np.int64),
                "n_buckets": np.array([len(sz)], dtype=np.int64),
                "oldest_size": np.array([oldest], dtype=np.int64),
                "est_window_sum": np.array([est], dtype=np.int64),
            }
        )

    return keyed_fold(stream_df, ["shard"], _EH_OUT, step)


# ---------------------------------------------------------------------------
# Stable Bloom filter (Deng & Rafiei, SIGMOD 2006 "Approximately detecting
# duplicates for streaming data using stable Bloom filters"): duplicate
# detection over an UNBOUNDED stream in strictly constant memory by trading
# in a controlled false-negative rate — every insertion decrements P
# pseudo-random counters, so stale entries decay and the fraction of zeros
# provably converges to a stationary value (the "stable" property). The
# decrement positions come from a deterministic counter-seeded hash, keeping
# runs reproducible.

_SBF_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("n_dups_flagged", LongType()),
        StructField("n_seen", LongType()),
        StructField("zero_frac_x1e6", LongType()),
    ]
)


def _sbf_positions(x: int, kh: int, m: int) -> list[int]:
    import hashlib

    # chain digests so ANY kh is covered (a single md5 yields only four
    # 4-byte words; slicing past it silently reads b"" -> position 0,
    # which would concentrate decrements on one cell)
    out: list[int] = []
    block = 0
    while len(out) < kh:
        h = hashlib.md5(f"{x}#{block}".encode()).digest()
        for i in range(4):
            if len(out) == kh:
                break
            out.append(int.from_bytes(h[4 * i : 4 * i + 4], "big") % m)
        block += 1
    return out


def _sbf_ingest(
    cells: "np.ndarray", keys, kh: int, p_dec: int, cell_max: int, n_seen: int
) -> tuple[int, int]:
    """Pure SBF core (unit-testable without Spark): fold an ordered run of
    integer keys into the counter array IN PLACE. Returns (dups_flagged,
    n_seen). A key is flagged duplicate iff all kh cells are non-zero
    BEFORE its own insertion; each arrival first decrements p_dec cells at
    deterministic counter-seeded positions, then sets its kh cells to
    cell_max — the Deng-Rafiei recipe with reproducible randomness."""
    m = len(cells)
    dups = 0
    for x in keys:
        x = int(x)
        pos = _sbf_positions(x, kh, m)
        if all(cells[j] > 0 for j in pos):
            dups += 1
        # deterministic "random" decrement positions: seeded by arrival idx
        for j in _sbf_positions(-(n_seen + 1), p_dec, m):
            if cells[j] > 0:
                cells[j] -= 1
        for j in pos:
            cells[j] = cell_max
        n_seen += 1
    return dups, n_seen


def stable_bloom_dedup(
    stream_df: DataFrame,
    m: int = 4096,
    kh: int = 3,
    p_dec: int = 10,
    cell_max: int = 3,
    key_col: str = "key",
) -> DataFrame:
    """Per-shard stable-Bloom duplicate detection: EXACTLY m counters of
    ceil(log2(cell_max+1)) bits forever — unlike the generational Bloom
    (which rotates whole generations on event time), the SBF decays
    continuously, so memory is constant without any clock. Emits the
    running duplicate count and the cell-zero fraction (scaled 1e6) whose
    convergence is the paper's stability guarantee. Expects ``shard long,
    event_id long, ts_us long, <key_col> long``; batches fold in
    (ts_us, event_id) order."""

    def step(key, acc, batch, seq):
        pdf = batch.sort_values(["ts_us", "event_id"])
        n_seen, n_dups, cells = acc or (0, 0, np.zeros(m, dtype=np.int8))
        dups, n_seen = _sbf_ingest(
            cells, pdf[key_col].to_numpy(np.int64), kh, p_dec, cell_max, n_seen
        )
        n_dups += dups
        return (n_seen, n_dups, cells), pd.DataFrame(
            {
                "shard": np.array([int(key[0])], dtype=np.int64),
                "seq": np.array([seq], dtype=np.int64),
                "n_dups_flagged": np.array([n_dups], dtype=np.int64),
                "n_seen": np.array([n_seen], dtype=np.int64),
                "zero_frac_x1e6": np.array(
                    [int(round((cells == 0).mean() * 1_000_000))], dtype=np.int64
                ),
            }
        )

    return keyed_fold(stream_df, ["shard"], _SBF_OUT, step)


# ---------------------------------------------------------------------------
# Streaming KLL quantiles: the comparison-based quantile summary maintained
# per shard in the state store — O(k log n) floats forever, value-domain
# free (the histogram-based stream_quantile_sketch needs a known range).

_KLL_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("sketch", BinaryType()),
    ]
)


def kll_quantile_state(stream_df: DataFrame, k: int = 200) -> DataFrame:
    """Per-shard online KLL: each micro-batch folds its values (sorted by
    (value, event_id) for a deterministic intra-batch order) into the
    state sketch; emits the serialized sketch per batch so the read side
    takes the latest per shard and merges shard summaries — sketches
    move, data doesn't. Expects ``shard long, event_id long, value
    double``."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.kll import (
        KLLSketch,
    )

    def step(key, sk, batch, seq):
        if sk is None:
            sk = KLLSketch(k=k, seed=int(key[0]) + 1)
        pdf = batch.sort_values(["value", "event_id"])
        sk.add_many(pdf["value"].to_numpy(np.float64))
        return sk, pd.DataFrame(
            {
                "shard": np.array([int(key[0])], dtype=np.int64),
                "seq": np.array([seq], dtype=np.int64),
                "sketch": pd.Series([sk.to_bytes()], dtype="object"),
            }
        )

    return keyed_fold(stream_df, ["shard"], _KLL_OUT, step)


# ---------------------------------------------------------------------------
# TRIEST streaming triangle counting (De Stefani, Epasto, Riondato, Upfal,
# KDD 2016): reservoir-sampled edge set + incremental triangle counters —
# the streaming-graph-analytics member of the state family: bounded memory
# (M edges) over an unbounded edge stream, unbiased global estimate via the
# t(t-1)(t-2)/(M(M-1)(M-2)) scale factor once the reservoir is full.

_TRIEST_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("t_seen", LongType()),
        StructField("sample_size", LongType()),
        StructField("node", LongType()),
        StructField("tri_count", LongType()),
    ]
)


def _triest_u01(seed: int, tag: str) -> float:
    """Deterministic uniform in [0,1) — the reproducible coin."""
    import hashlib as _hl

    h = _hl.md5(f"{seed}|{tag}".encode()).digest()
    return int.from_bytes(h[:8], "big") / 2**64


def _triest_ingest(
    edges: set,
    counts: dict,
    seen: set,
    t_seen: int,
    new_codes,
    m_cap: int,
    n_nodes: int,
    seed: int,
) -> int:
    """Pure TRIEST-base core over edge codes u*n_nodes+v (u < v).

    ``seen`` is the exact first-arrival dedupe set — legitimate here
    because the NODE domain is bounded (the code space is n_nodes^2
    bits), so the bitmap is fixed-size; for unbounded node domains,
    compose a streaming dedupe (stable/generational Bloom) upstream.
    Each first-seen edge increments t; it enters the reservoir always
    while |S| < M, else with probability M/t (evicting a deterministic
    pseudo-random slot). Counter updates walk the CURRENT sample's
    common neighbors on both insert and evict — the paper's base
    variant, all coins md5-derived so the run is reproducible."""
    adj: dict[int, set] = {}
    for code in edges:
        u, v = divmod(code, n_nodes)
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)

    def _apply(u: int, v: int, delta: int) -> None:
        common = adj.get(u, set()) & adj.get(v, set())
        for w in common:
            counts[w] = counts.get(w, 0) + delta
        if common:
            counts[u] = counts.get(u, 0) + delta * len(common)
            counts[v] = counts.get(v, 0) + delta * len(common)

    def _link(u: int, v: int) -> None:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)

    def _unlink(u: int, v: int) -> None:
        adj[u].discard(v)
        adj[v].discard(u)

    for code in new_codes:
        code = int(code)
        if code in seen:
            continue
        seen.add(code)
        t_seen += 1
        u, v = divmod(code, n_nodes)
        if len(edges) < m_cap:
            _apply(u, v, 1)
            edges.add(code)
            _link(u, v)
        elif _triest_u01(seed, f"keep|{t_seen}") < m_cap / t_seen:
            # evict a deterministic pseudo-random resident edge
            resident = sorted(edges)
            idx = int(_triest_u01(seed, f"slot|{t_seen}") * len(resident))
            out_code = resident[min(idx, len(resident) - 1)]
            ou, ov = divmod(out_code, n_nodes)
            _unlink(ou, ov)
            edges.discard(out_code)
            _apply(ou, ov, -1)
            _apply(u, v, 1)
            edges.add(code)
            _link(u, v)
    return t_seen


def triest_triangle_state(
    stream_df: DataFrame, m_cap: int, n_nodes: int, seed: int = 7
) -> DataFrame:
    """Graph-global TRIEST state (the reservoir IS the memory bound, so
    the state lives under one group key): each micro-batch's (u, v)
    edge codes fold in (order_col, code) order; emits the full per-node
    counter table per batch plus (t_seen, sample_size) so the read side
    can apply the unbiased scale factor. Expects ``shard long, ord long,
    code long``."""

    def step(key, acc, batch, seq):
        edges, counts, seen, t_seen = acc or (set(), {}, set(), 0)
        pdf = batch.sort_values(["ord", "code"])
        codes = pdf["code"].drop_duplicates().to_numpy(np.int64)
        t_seen = _triest_ingest(
            edges, counts, seen, t_seen, codes, m_cap, n_nodes, seed
        )
        carr = np.zeros(n_nodes, dtype=np.int64)
        for i, c in counts.items():
            carr[i] = c
        nodes = np.flatnonzero(carr)
        return (edges, counts, seen, t_seen), pd.DataFrame(
            {
                "shard": np.full(len(nodes), int(key[0]), dtype=np.int64),
                "seq": np.full(len(nodes), seq, dtype=np.int64),
                "t_seen": np.full(len(nodes), t_seen, dtype=np.int64),
                "sample_size": np.full(len(nodes), len(edges), dtype=np.int64),
                "node": nodes.astype(np.int64),
                "tri_count": carr[nodes],
            }
        )

    return keyed_fold(stream_df, ["shard"], _TRIEST_OUT, step)


# ---------------------------------------------------------------------------
# ADWIN adaptive-window drift detection (Bifet & Gavalda, SDM 2007): the
# canonical "window size chooses itself" change detector — completes the
# drift family next to Page-Hinkley/CUSUM/SPRT, which all need a tuned
# horizon; ADWIN keeps the longest window whose halves are statistically
# indistinguishable, in O(M log W) state via DGIM-style bucket cascades.

_ADWIN_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("window_n", LongType()),
        StructField("window_sum_x1e6", LongType()),
        StructField("n_detections", LongType()),
    ]
)


def _adwin_ingest(
    cnt: list[int], sm: list[float], values, m_cap: int, delta: float
) -> tuple[list[int], list[float], int]:
    """Pure ADWIN core (unit-testable without Spark): fold a run of [0,1]
    values into the (count, sum) bucket lists, then run the cut loop ONCE
    at the batch boundary (the streaming adaptation — per-arrival checking
    only shortens detection delay; the stationary no-cut contract and the
    window totals are unaffected, since bucket merges preserve count and
    sum EXACTLY). Buckets are oldest-first; at most ``m_cap`` per
    power-of-two size (the paper's M). The cut condition is the paper's
    Hoeffding form: drop the oldest bucket while some split has
    |mu_0 - mu_1| > sqrt(ln(4n/delta) / (2*m_harmonic))."""
    import math

    for v in values:
        cnt.append(1)
        sm.append(float(v))
        s = 1
        while True:
            idxs = [j for j, c in enumerate(cnt) if c == s]
            if len(idxs) <= m_cap:
                break
            a, b = idxs[0], idxs[1]  # merge the two OLDEST of this size
            cnt[b] = 2 * s
            sm[b] = sm[a] + sm[b]  # count and sum preserved exactly
            del cnt[a], sm[a]
            s *= 2
    shrunk = False
    while len(cnt) > 1:
        n_tot = float(sum(cnt))
        s_tot = sum(sm)
        dp = math.log(4.0 * n_tot / delta)
        cut = False
        n0 = 0.0
        s0 = 0.0
        for j in range(len(cnt) - 1):
            n0 += cnt[j]
            s0 += sm[j]
            n1 = n_tot - n0
            m_h = 1.0 / (1.0 / n0 + 1.0 / n1)
            eps = math.sqrt(dp / (2.0 * m_h))
            if abs(s0 / n0 - (s_tot - s0) / n1) > eps:
                cut = True
                break
        if not cut:
            break
        del cnt[0], sm[0]
        # one drift DETECTION per cut event, however many oldest buckets
        # the shrink sheds — counting per dropped bucket would report a
        # single abrupt shift as k detections
        shrunk = True
    return cnt, sm, 1 if shrunk else 0


def adwin_drift_state(
    stream_df: DataFrame, m_cap: int = 5, delta: float = 0.002,
    bit_col: str = "bit",
) -> DataFrame:
    """Per-shard online ADWIN over a [0,1] signal column: state is the
    (count, sum) bucket cascade — O(m_cap log W) floats forever — plus a
    detection counter. Emits per micro-batch (window length, window sum
    scaled 1e6, cumulative detections); read the latest seq per shard.
    Expects ``shard long, event_id long, ts_us long, <bit_col> double``;
    batches fold in (ts_us, event_id) order."""

    def step(key, acc, batch, seq):
        pdf = batch.sort_values(["ts_us", "event_id"])
        cnt, sm, ndet = acc or ([], [], 0)
        cnt, sm, dets = _adwin_ingest(
            cnt, sm, pdf[bit_col].to_numpy(np.float64), m_cap, delta
        )
        ndet += dets
        return (cnt, sm, ndet), pd.DataFrame(
            {
                "shard": np.array([int(key[0])], dtype=np.int64),
                "seq": np.array([seq], dtype=np.int64),
                "window_n": np.array([sum(cnt)], dtype=np.int64),
                "window_sum_x1e6": np.array(
                    [int(round(sum(sm) * 1_000_000))], dtype=np.int64
                ),
                "n_detections": np.array([ndet], dtype=np.int64),
            }
        )

    return keyed_fold(stream_df, ["shard"], _ADWIN_OUT, step)


# ---------------------------------------------------------------------------
# Streaming t-digest: the tail-accurate mergeable quantile summary maintained
# per shard in the state store — the streaming twin of the batch
# tdigest_quantile_sketch_table, symmetric with kll_quantile_state (KLL is
# uniform-error comparison-based; the t-digest's k1 scale function buys
# tighter tails at the same O(compression) state).

_TD_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("means", BinaryType()),
        StructField("weights", BinaryType()),
    ]
)


def tdigest_quantile_state(stream_df: DataFrame, compression: int = 100) -> DataFrame:
    """Per-shard online t-digest: each micro-batch folds its values
    (sorted by (value, event_id) for a deterministic intra-batch order)
    into the state digest via one merging pass; emits the serialized
    centroid arrays per batch so the read side takes the latest per shard
    and merges shard summaries — sketches move, data doesn't. Expects
    ``shard long, event_id long, value double``."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.tdigest import (
        TDigest,
    )

    def step(key, td, batch, seq):
        if td is None:
            td = TDigest(compression)
        pdf = batch.sort_values(["value", "event_id"])
        td.add_values(pdf["value"].to_numpy(np.float64))
        mb, wb = td.to_bytes()
        return td, pd.DataFrame(
            {
                "shard": np.array([int(key[0])], dtype=np.int64),
                "seq": np.array([seq], dtype=np.int64),
                "means": pd.Series([mb], dtype="object"),
                "weights": pd.Series([wb], dtype="object"),
            }
        )

    return keyed_fold(stream_df, ["shard"], _TD_OUT, step)


_LEAFH_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("day", StringType()),
        StructField("hr", LongType()),
        StructField("c", LongType()),
    ]
)


def streaming_leaf_histogram(
    stream_df: DataFrame, day_col: str, hr_col: str
) -> DataFrame:
    """Per-shard (day, hour) leaf-count histogram maintained ONLINE — the
    state layer under the streaming hierarchical-heavy-hitters twin. Each
    shard holds a calendar-bounded dict {(day,hr): count} (a year of
    stream costs 365*24 longs per shard no matter the event volume) and
    re-emits its full histogram every batch; the LAST emission per shard
    (max seq) is the shard's exact leaf table, and the merged shards feed
    the same discounted-HHH lattice as the batch query — final answers
    hash-equal the batch scan. Expects a 'shard' column on the stream
    (content hash, so placement is partitioning-invariant)."""
    def step(key, hist, batch, seq):
        hist = hist or {}
        for (day, hr), c in batch.groupby([day_col, hr_col]).size().items():
            k = (str(day), int(hr))
            hist[k] = hist.get(k, 0) + int(c)
        keys = sorted(hist)
        return hist, pd.DataFrame(
            {
                "shard": [int(key[0])] * len(keys),
                "seq": [seq] * len(keys),
                "day": [k[0] for k in keys],
                "hr": [k[1] for k in keys],
                "c": [hist[k] for k in keys],
            }
        )

    return keyed_fold(stream_df, ["shard"], _LEAFH_OUT, step)


_PH_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("n_days", LongType()),
        StructField("max_ph", DoubleType()),
        StructField("first_alarm_day", StringType()),
    ]
)


def _ph_walk(days: dict, lam: float):
    """Re-derive the PH walk from the merged day histogram. Terms are
    quantized with Decimal ROUND_HALF_UP at 1e-8 and summed exactly in
    Decimal — the same arithmetic as Spark's ROUND@8 -> DECIMAL(28,8)
    window sum — so the result hash-equals the batch page_hinkley_drift
    scan regardless of micro-batch boundaries. Returns
    (n_days, max_ph_rounded, first_alarm_day_or_none)."""
    from decimal import ROUND_HALF_UP, Decimal

    q8 = Decimal("1e-8")
    ordered = sorted(days)
    cum = 0
    m = Decimal(0)
    min_m = None
    max_ph = None
    first_alarm = None
    for t, day in enumerate(ordered, start=1):
        x = days[day]
        cum += x
        term = Decimal(repr(x - cum * 1.0 / t)).quantize(q8, rounding=ROUND_HALF_UP)
        m += term
        # the batch twin casts each decimal prefix sum to DOUBLE before
        # the MIN window and the subtraction — mirror that exactly
        fm = float(m)
        if min_m is None or fm < min_m:
            min_m = fm
        ph = fm - min_m
        if max_ph is None or ph > max_ph:
            max_ph = ph
        if first_alarm is None and ph > lam:
            first_alarm = day
    rounded = (
        float(Decimal(repr(max_ph)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))
        if max_ph is not None
        else 0.0
    )
    return len(ordered), rounded, first_alarm


def streaming_page_hinkley(
    stream_df: DataFrame, key_col: str, day_col: str, lam: float
) -> DataFrame:
    """Per-key Page-Hinkley drift monitor maintained ONLINE: state is the
    day->count histogram (O(days) longs per key, volume-independent —
    same state discipline as the streaming CUSUM), and every batch
    re-derives the PH walk from the merged histogram (see _ph_walk for
    the exact-arithmetic contract)."""
    def step(key, days, batch, seq):
        days = days or {}
        _fold_day_counts(days, batch, day_col)
        n_days, rounded, first_alarm = _ph_walk(days, lam)
        return days, pd.DataFrame(
            {
                "key": [str(key[0])],
                "seq": [seq],
                "n_days": [n_days],
                "max_ph": [rounded],
                "first_alarm_day": [first_alarm or "none"],
            }
        )

    return keyed_fold(stream_df, [key_col], _PH_OUT, step)


_SCOREH_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("score", DoubleType()),
        StructField("c", LongType()),
        StructField("c1", LongType()),
    ]
)


def streaming_score_histogram(stream_df: DataFrame, score_col: str, y_col: str) -> DataFrame:
    """Per-shard (score -> (count, positives)) histogram maintained ONLINE —
    the state layer under the streaming ROC-AUC twin. AUC is a pure
    function of the per-distinct-score counts, which ARE mergeable (plain
    sums), so the online evaluator keeps O(distinct scores / shards)
    longs per shard forever and the rank arithmetic runs on the merged
    last emissions. Expects a 'shard' column (content hash of the score,
    so each distinct score lives in exactly one shard)."""
    def step(key, hist, batch, seq):
        hist = hist or {}
        _scoreh_fold(hist, batch, score_col, y_col)
        keys = sorted(hist)
        return hist, pd.DataFrame(
            {
                "shard": [int(key[0])] * len(keys),
                "seq": [seq] * len(keys),
                "score": keys,
                "c": [hist[k][0] for k in keys],
                "c1": [hist[k][1] for k in keys],
            }
        )

    return keyed_fold(stream_df, ["shard"], _SCOREH_OUT, step)


def _scoreh_fold(hist: dict, pdf: pd.DataFrame, score_col: str, y_col: str) -> None:
    """Fold a batch into the score -> (count, positives) histogram."""
    g = pdf.groupby(score_col)[y_col].agg(["count", "sum"])
    for score, row in g.iterrows():
        c0, c10 = hist.get(float(score), (0, 0))
        hist[float(score)] = (c0 + int(row["count"]), c10 + int(row["sum"]))


_MONMUX_OUT = StructType(
    [
        StructField("mux", StringType()),
        StructField("gkey", StringType()),
        StructField("seq", LongType()),
        StructField("score", DoubleType()),
        StructField("c", LongType()),
        StructField("c1", LongType()),
        StructField("n_days", LongType()),
        StructField("max_ph", DoubleType()),
        StructField("first_alarm_day", StringType()),
    ]
)


def monitoring_mux_state(stream_df: DataFrame, lam: float) -> DataFrame:
    """KEYSPACE-MULTIPLEXED monitoring state: one keyed_fold run
    maintains BOTH the (score -> (count, positives)) histogram shards
    AND the per-key Page-Hinkley day histograms — the write-fusion lesson
    from the release funnel applied to stateful operators. Spark allows
    one arbitrary-stateful operator per streaming query, so a composite
    monitor that needs two state layers would otherwise pay two full
    streaming runs over the same source; packing both layers into one
    keyspace — group key (mux, gkey), step dispatching on mux — halves
    the per-run micro-batch floor while keeping each layer's fold
    BIT-IDENTICAL (both reuse the exact fold/walk helpers of their
    standalone operators, so the funnel's oracle is unchanged).

    Expects columns ``mux string`` ('h' = histogram row, 'p' = PH row),
    ``gkey string`` (shard id for 'h', monitor key for 'p'), ``score
    double``/``y long`` (valid on 'h' rows), ``day string`` (valid on 'p'
    rows). Emits the union schema; filter on mux and project per layer.
    State per group is one histogram — the same O(distinct)/O(days)
    discipline as the standalone operators."""
    def step(key, store, batch, seq):
        mux = str(key[0])
        gkey = str(key[1])
        if mux not in ("h", "p"):
            # a typo'd or future third layer must fail loudly, not be
            # silently folded as a PH day histogram over garbage columns
            raise ValueError(f"monitoring_mux_state: unknown mux {mux!r}")
        store = store or {}
        if mux == "h":
            _scoreh_fold(store, batch, "score", "y")
            keys = sorted(store)
            n = len(keys)
            return store, pd.DataFrame(
                {
                    "mux": ["h"] * n,
                    "gkey": [gkey] * n,
                    "seq": [seq] * n,
                    "score": keys,
                    "c": [store[k][0] for k in keys],
                    "c1": [store[k][1] for k in keys],
                    "n_days": pd.array([None] * n, dtype="Int64"),
                    "max_ph": pd.array([None] * n, dtype="float64"),
                    "first_alarm_day": pd.array([None] * n, dtype=object),
                }
            )
        _fold_day_counts(store, batch, "day")
        n_days, rounded, first_alarm = _ph_walk(store, lam)
        return store, pd.DataFrame(
            {
                "mux": ["p"],
                "gkey": [gkey],
                "seq": [seq],
                "score": pd.array([None], dtype="float64"),
                "c": pd.array([None], dtype="Int64"),
                "c1": pd.array([None], dtype="Int64"),
                "n_days": [n_days],
                "max_ph": [rounded],
                "first_alarm_day": [first_alarm or "none"],
            }
        )

    return keyed_fold(stream_df, ["mux", "gkey"], _MONMUX_OUT, step)


_LC_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("item", StringType()),
        StructField("lc_value", LongType()),
        StructField("lc_delta", LongType()),
    ]
)


def lossy_counting_state(
    stream_df: DataFrame, eps: float, item_col: str = "item"
) -> DataFrame:
    """Per-shard Lossy Counting (Manku & Motwani, VLDB 2002) across
    micro-batches — the deterministic-deletion member of the counter-
    summary family (Misra-Gries subtracts, SpaceSaving overwrites, Lossy
    Counting prunes at bucket boundaries): each tracked item carries
    (count, delta) with delta = the bucket it entered at; after folding a
    batch, items with count + delta <= current bucket are dropped, so
    state is O(1/eps * log(eps*N)) and every kept estimate over-reads the
    truth by at most eps*N_shard. Batch folding assigns new items the
    batch-entry bucket, which only loosens delta toward the same bound.
    Emits the full summary each batch (deterministic item order); read
    the last seq per shard and ADD shard summaries (per-shard bounds add
    to eps*N)."""
    import math

    w = max(1, math.ceil(1.0 / eps))

    def step(key, acc, batch, seq):
        n_seen, counts, deltas = acc or (0, {}, {})
        b_entry = n_seen // w  # bucket new items enter at (batch-folded)
        for it, c in batch[item_col].value_counts().items():
            if it in counts:
                counts[it] += int(c)
            else:
                counts[it] = int(c)
                deltas[it] = b_entry
        n_seen += len(batch)
        b_cur = n_seen // w
        for it in [i for i in counts if counts[i] + deltas[i] <= b_cur]:
            del counts[it], deltas[it]
        order = sorted(counts)
        return (n_seen, counts, deltas), pd.DataFrame(
            {
                "shard": np.full(len(order), int(key[0]), dtype=np.int64),
                "seq": np.full(len(order), seq, dtype=np.int64),
                "item": pd.Series(order, dtype="object"),
                "lc_value": np.array(
                    [counts[i] for i in order], dtype=np.int64
                ),
                "lc_delta": np.array(
                    [deltas[i] for i in order], dtype=np.int64
                ),
            }
        )

    return keyed_fold(stream_df, ["shard"], _LC_OUT, step)


_GT_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("source", StringType()),
        StructField("n_tokens", LongType()),
        StructField("v_observed", LongType()),
        StructField("n1", LongType()),
        StructField("n2", LongType()),
    ]
)


def streaming_vocab_coverage(stream_df: DataFrame) -> DataFrame:
    """Per-shard (source, term) count dictionary maintained ONLINE — the
    state layer under the streaming Good-Turing/Chao1 twin. Shard = content
    hash of (source, term), so every vocabulary entry lives in exactly one
    shard and the per-source sufficient statistics (n_tokens, v_observed,
    n1, n2) emitted by different shards are ADDITIVE; the merged last
    emissions feed the same estimator fold as the batch scan, so the online
    vocabulary-coverage answer hash-equals good_turing_vocab_coverage.
    State is O(vocabulary/shard) — it grows with DISTINCT words (Heaps-law
    sublinear), never with token volume. Expects columns source, term and a
    content-hash 'shard'."""
    def step(key, counts, batch, seq):
        counts = counts or {}
        for (src, term), c in batch.groupby(["source", "term"]).size().items():
            k = (str(src), str(term))
            counts[k] = counts.get(k, 0) + int(c)
        agg: dict = {}
        for (src, _term), c in counts.items():
            a = agg.setdefault(src, [0, 0, 0, 0])
            a[0] += c
            a[1] += 1
            a[2] += 1 if c == 1 else 0
            a[3] += 1 if c == 2 else 0
        srcs = sorted(agg)
        return counts, pd.DataFrame(
            {
                "shard": [int(key[0])] * len(srcs),
                "seq": [seq] * len(srcs),
                "source": srcs,
                "n_tokens": [agg[s][0] for s in srcs],
                "v_observed": [agg[s][1] for s in srcs],
                "n1": [agg[s][2] for s in srcs],
                "n2": [agg[s][3] for s in srcs],
            }
        )

    return keyed_fold(stream_df, ["shard"], _GT_OUT, step)


_XYH_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("x", LongType()),
        StructField("c", LongType()),
        StructField("p", LongType()),
    ]
)


def streaming_xy_histogram(stream_df: DataFrame) -> DataFrame:
    """Per-shard (feature value x -> [count, positives]) histogram
    maintained ONLINE — the sufficient statistic under the streaming
    decision-stump trainer (and any other split-finding / calibration
    consumer): Hoeffding-tree-style, the MODEL state is value-support
    bounded, never row bounded. Shard = content hash of x, so each
    feature value has one owner and the merged last emissions equal the
    batch groupBy exactly. Expects columns x (long), y (0/1 int), shard."""
    def step(key, hist, batch, seq):
        hist = hist or {}
        grp = batch.groupby("x")["y"].agg(["count", "sum"])
        for x, row in grp.iterrows():
            c0, p0 = hist.get(int(x), (0, 0))
            hist[int(x)] = (c0 + int(row["count"]), p0 + int(row["sum"]))
        xs = sorted(hist)
        return hist, pd.DataFrame(
            {
                "shard": [int(key[0])] * len(xs),
                "seq": [seq] * len(xs),
                "x": xs,
                "c": [hist[x][0] for x in xs],
                "p": [hist[x][1] for x in xs],
            }
        )

    return keyed_fold(stream_df, ["shard"], _XYH_OUT, step)


_TOPP_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("doc_id", LongType()),
        StructField("n_chars", LongType()),
        StructField("priority", DoubleType()),
    ]
)


def streaming_topk_priority(stream_df: DataFrame, k: int = 50) -> DataFrame:
    """Per-shard running top-k by (priority DESC, doc_id ASC) maintained
    ONLINE — the state layer under streaming priority sampling. Top-k is a
    mergeable monoid: each shard keeps its k best rows ever seen (k rows
    of state, volume-independent), and the k best of the merged last
    emissions equal the batch TakeOrdered exactly. Expects columns
    doc_id, n_chars, priority (already quantized) and a content-hash
    'shard'."""
    def step(key, rows, batch, seq):
        rows = rows or []
        rows.extend(
            (float(p), int(d), int(c))
            for d, c, p in zip(batch["doc_id"], batch["n_chars"], batch["priority"])
        )
        rows.sort(key=lambda r: (-r[0], r[1]))
        rows = rows[:k]
        return rows, pd.DataFrame(
            {
                "shard": [int(key[0])] * len(rows),
                "seq": [seq] * len(rows),
                "doc_id": [r[1] for r in rows],
                "n_chars": [r[2] for r in rows],
                "priority": [r[0] for r in rows],
            }
        )

    return keyed_fold(stream_df, ["shard"], _TOPP_OUT, step)
