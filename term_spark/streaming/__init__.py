"""Structured Streaming extension (additive — the reference has no
streaming runtime; SURVEY §2.9/§7.2-9 marks this as the optional
``foreachBatch`` wrapper plus watermark-aware freshness checks).

- StreamingSuiteRunner: run a batch ValidationSuite per micro-batch via
  ``foreachBatch``; results flow into a MetricsRepository keyed by
  batch id, so anomaly detection works across micro-batches.
- windowed_metrics: watermarked tumbling/sliding-window aggregation of
  the same scalar metric expressions the batch engine uses.
- freshness_check: watermark-aware data-freshness metric.
- stateful_dedup_stream: exact streaming dedup via dropDuplicates
  within watermark (state-store backed).

Every ``foreachBatch`` class here (the suite runner and the seven
``Streaming*Monitor``s) is built on ``_BatchMonitor``, the one core for
``attach``, exactly-once replay on ``batch_id`` and alert recording.
"""

from __future__ import annotations

import time
from typing import Callable, Dict, List, Optional

import pyspark.sql.functions as F


class _BatchMonitor:
    """The foreachBatch core: ``attach``, exactly-once replay and alert
    recording.

    foreachBatch is at-least-once, and a replayed micro-batch reuses its
    ``batch_id``, so ``foreach_batch`` skips an id it already folded.
    An id is marked folded only after ``_fold`` returns, i.e. after the
    fold committed and its alert or raise step ran: a batch whose fold
    or callback raised is folded again when Spark retries it.  A fold
    builds its new state before it mutates the monitor, so a fold that
    raised has committed nothing a retry would count twice.

    ``_alert`` records an alert on ``alerts`` (the last 100) and passes
    it to ``on_alert``; each monitor keeps its own rule for when to
    call it.
    """

    def __init__(self, on_alert: Optional[Callable] = None):
        self.on_alert = on_alert
        self.alerts: List = []
        self._seen_batches: set = set()

    def foreach_batch(self, batch_df, batch_id: int) -> None:
        if batch_id in self._seen_batches:
            return
        self._fold(batch_df, batch_id)
        self._seen_batches.add(batch_id)

    def _fold(self, batch_df, batch_id: int) -> None:
        raise NotImplementedError

    def _alert(self, batch_id: int, *detail) -> None:
        self.alerts.append((batch_id,) + detail)
        del self.alerts[:-100]
        if self.on_alert is not None:
            self.on_alert(batch_id, *detail)

    def attach(self, stream_writer):
        """writer.foreachBatch hookup: monitor.attach(df.writeStream)"""
        return stream_writer.foreachBatch(self.foreach_batch)


def _save_batch_metrics(repository, batch_id: int, metrics: Dict,
                        **tags) -> None:
    """Save a batch's numeric metrics as doubles under a ResultKey of
    (now, batch_id, tags), so the repository history grows batch by
    batch."""
    from ..analyzers.base import MetricValue
    from ..repository import ResultKey
    repository.save(
        ResultKey.of(time.time(), batch_id=str(batch_id), **tags),
        {k: MetricValue.double(v) for k, v in metrics.items()
         if isinstance(v, (int, float))})


class StreamingSuiteRunner(_BatchMonitor):
    """foreachBatch adapter: validates every micro-batch with the batch
    engine — the per-batch cost is the batch path's fused jobs: one
    plain group, one per DISTINCT alias, and one sketch group."""

    def __init__(self, suite, repository=None, on_result: Optional[Callable] = None,
                 fail_on_error: bool = False):
        super().__init__()
        self.suite = suite
        self.repository = repository
        self.on_result = on_result
        self.fail_on_error = fail_on_error
        self.results: List = []  # bounded: last 100

    def _fold(self, batch_df, batch_id: int) -> None:
        result = self.suite.run(batch_df.sparkSession, batch_df)
        self.results.append((batch_id, result))
        del self.results[:-100]
        if self.repository is not None:
            _save_batch_metrics(self.repository, batch_id, result.metrics,
                                suite=self.suite.name)
        if self.on_result is not None:
            self.on_result(batch_id, result)
        if self.fail_on_error and not result.passed:
            raise RuntimeError(
                f"validation failed for micro-batch {batch_id}: "
                f"{[i.message for i in result.report.issues][:5]}")


def _with_event_time(stream_df, ts_col: str):
    """Watermarks require TIMESTAMP (LTZ); naive parquet timestamps load
    as TIMESTAMP_NTZ, which Spark rejects as an event-time column. Coerce
    in place — in a UTC session the instants are identical."""
    if dict(stream_df.dtypes).get(ts_col) == "timestamp_ntz":
        return stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp_ltz"))
    return stream_df


def windowed_metrics(stream_df, ts_col: str, metric_exprs: Dict[str, "F.Column"],
                     window: str = "1 minute", slide: Optional[str] = None,
                     watermark: str = "10 minutes"):
    """Watermarked windowed aggregation of scalar metric expressions.

    Late rows beyond the watermark are dropped by Spark's state
    eviction — the streaming analogue of the batch engine's shared
    single-pass agg.
    """
    stream_df = _with_event_time(stream_df, ts_col)
    win = (F.window(F.col(ts_col), window, slide) if slide
           else F.window(F.col(ts_col), window))
    return (stream_df
            .withWatermark(ts_col, watermark)
            .groupBy(win.alias("window"))
            .agg(*[c.alias(a) for a, c in metric_exprs.items()]))


def text_quality_metrics(stream_df, ts_col: str, text_col: str = "text",
                         window: str = "1 minute",
                         slide: Optional[str] = None,
                         watermark: str = "10 minutes",
                         min_ease: float = 10.0, max_ease: float = 125.0,
                         **gopher_overrides):
    """Per-window corpus text-quality dashboard (round 8): document
    count, readable share (Flesch ease in ``[min_ease, max_ease]``
    over non-blank docs — NULL when a window has none), Gopher-bundle
    pass share (NULL/blank text = fail, denominator all rows) and mean
    token count.

    Every ratio reuses the SAME codegen expressions as the batch gates
    (``has_readable_text`` / ``passes_gopher_rules``), so streamed and
    batch readings agree exactly on identical rows — one watermarked
    windowed aggregation, no UDFs, state bounded by windows in flight.
    """
    from ..operators.text import (flesch_ease_col, gopher_passes_col,
                                  token_count)
    ease = flesch_ease_col(text_col)
    passes = gopher_passes_col(text_col, **gopher_overrides)
    nonblank = F.count(F.when(ease.isNotNull(), 1))
    exprs = {
        "n_docs": F.count(F.lit(1)),
        "readable_ratio": F.when(
            nonblank > 0,
            F.round(F.count(F.when(ease.between(min_ease, max_ease), 1))
                    / nonblank, 6)),
        "gopher_pass_ratio": F.round(
            F.count(F.when(passes, 1)) / F.count(F.lit(1)), 6),
        "mean_tokens": F.round(
            F.avg(F.coalesce(token_count(text_col), F.lit(0))), 6),
    }
    return windowed_metrics(stream_df, ts_col, exprs, window, slide,
                            watermark)


def freshness_check(stream_df, ts_col: str, watermark: str = "10 minutes",
                    window: str = "1 minute"):
    """Per-window max event-time lag vs processing time — a freshness
    metric stream (watermark-aware; SURVEY §7.2-9)."""
    stream_df = _with_event_time(stream_df, ts_col)
    return (stream_df
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("window"))
            .agg(F.max(F.col(ts_col)).alias("max_event_time"),
                 F.count(F.lit(1)).alias("n_events"))
            .withColumn("observed_at", F.current_timestamp())
            .withColumn("freshness_lag_seconds",
                        F.col("observed_at").cast("double") -
                        F.col("max_event_time").cast("double")))


def stateful_dedup_stream(stream_df, key_cols: List[str], ts_col: str,
                          watermark: str = "1 hour"):
    """Streaming exact dedup: state-store-backed dropDuplicates within
    the watermark horizon (unbounded dedup is unrunnable at scale —
    the watermark bounds state size)."""
    stream_df = _with_event_time(stream_df, ts_col)
    return (stream_df
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(key_cols))


def running_stats_stream(stream_df, key_col: str, value_col: str):
    """Custom stateful operator: per-key running (n, sum, sum²) state
    maintained across micro-batches via ``applyInPandasWithState`` —
    the streaming form of the batch engine's mergeable analyzer state
    (analyzers/base.py state algebra; same n/Σx/Σx² triple).

    Emits one row per key per batch with the cumulative n, mean, and
    sample stddev. State is a 3-number tuple per key — bounded by key
    cardinality, not stream length, so this holds at cluster scale.
    Arrow-batched (no row-at-a-time Python).
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        if state.exists:
            n, s, s2 = state.get
        else:
            n, s, s2 = 0, 0.0, 0.0
        for pdf in pdfs:
            v = pdf[value_col].dropna()
            n += int(v.size)
            s += float(v.sum())
            s2 += float((v * v).sum())
        state.update((n, s, s2))
        mean = s / n if n else None
        var = (s2 - s * s / n) / (n - 1) if n > 1 else None
        std = math.sqrt(var) if var is not None and var > 0 else (
            0.0 if var is not None else None)
        yield pd.DataFrame([{key_col: key[0], "n": n, "mean": mean,
                             "stddev": std}])

    from pyspark.sql.types import (LongType, StructField, StructType,
                                   DoubleType)

    # the key keeps its incoming type (string user ids are as common as
    # bigints) — hardcoding bigint here failed at runtime for any other key
    key_field = stream_df.schema[key_col]
    out_schema = StructType([
        StructField(key_col, key_field.dataType, True),
        StructField("n", LongType(), True),
        StructField("mean", DoubleType(), True),
        StructField("stddev", DoubleType(), True)])
    state_schema = "n bigint, s double, s2 double"
    return (stream_df.groupBy(key_col)
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def drift_metrics(stream_df, ts_col: str, value_col: str, ref_df,
                  bins: int = 10, lo: Optional[float] = None,
                  hi: Optional[float] = None, window: str = "1 minute",
                  slide: Optional[str] = None, watermark: str = "10 minutes",
                  eps: float = 1e-6):
    """Streaming distribution drift: PSI of ``value_col`` per event-time
    window against a STATIC reference snapshot (yesterday's corpus, the
    training set…) — the canonical streaming DQ ask, composing the batch
    ``population_stability`` semantics with ``windowed_metrics``'s
    watermarked windowing.

    Shape: the reference collapses to ``bins`` shares ONCE (one batch
    agg, bins-bounded collect, then pure literals in the plan); the
    stream runs a SINGLE windowed aggregation with one conditional
    count per bucket, and PSI is assembled row-wise from those columns.
    Chained streaming aggregations (bucket counts → PSI) would be
    rejected by Spark; one agg + post-projection is the legal,
    state-bounded form — per-window state is ``bins`` longs, whatever
    the stream volume.

    Bucketing (both-end clamp, eps-floored shares) matches
    operators/statistics.population_stability exactly, so a streamed
    window over the same rows yields the same PSI as the batch call.
    """
    from ..operators.statistics import psi_bucket

    rcol = F.col(value_col).cast("double")
    if lo is None or hi is None:
        r = ref_df.agg(F.min(rcol).alias("mn"), F.max(rcol).alias("mx")
                       ).collect()[0]
        if r["mn"] is None:
            raise ValueError(
                f"drift_metrics({value_col!r}): reference has no non-null "
                "rows — pass lo/hi or supply a non-empty snapshot")
        lo = float(r["mn"]) if lo is None else float(lo)
        hi = float(r["mx"]) if hi is None else float(hi)
    if float(hi) <= float(lo):
        raise ValueError(
            f"drift_metrics({value_col!r}): hi ({hi}) must exceed lo ({lo})")
    width = (float(hi) - float(lo)) / bins

    ref_counts = (ref_df.filter(rcol.isNotNull())
                  .groupBy(psi_bucket(rcol, lo, width, bins).alias("bucket"))
                  .agg(F.count(F.lit(1)).alias("n")).collect())
    ref_n = sum(r["n"] for r in ref_counts)
    by_bucket = {int(r["bucket"]): r["n"] / ref_n for r in ref_counts}
    q_raw = [by_bucket.get(b, 0.0) for b in range(bins)]  # W1: no smoothing
    q_shares = [max(q, eps) for q in q_raw]               # PSI: eps-floored

    stream_df = _with_event_time(stream_df, ts_col)
    scol = F.col(value_col).cast("double")
    b = psi_bucket(scol, lo, width, bins)
    cnt_exprs = [F.count(F.when(scol.isNotNull() & (b == i), 1)).alias(f"_b{i}")
                 for i in range(bins)]
    win = (F.window(F.col(ts_col), window, slide) if slide
           else F.window(F.col(ts_col), window))
    agg = (stream_df
           .withWatermark(ts_col, watermark)
           .groupBy(win.alias("window"))
           .agg(F.count(scol).alias("n_events"), *cnt_exprs))

    n = F.col("n_events")
    psi = F.lit(0.0)
    for i in range(bins):
        p = F.greatest(F.col(f"_b{i}") / n, F.lit(eps))
        psi = psi + (p - q_shares[i]) * F.log(p / F.lit(q_shares[i]))
    # Wasserstein-1 rides the SAME windowed agg as a second row-wise
    # assembly: cumulative share diffs vs the reference's cumulative
    # shares (raw, not eps-floored — W1 needs no smoothing), normalized
    # to the domain. Matches operators.drift.wasserstein_1 on the same
    # rows (every bucket is materialized here, so no run lengths).
    w1n = F.lit(0.0)
    cdf_p, cdf_q = F.lit(0.0), 0.0
    for i in range(bins):
        cdf_p = cdf_p + F.col(f"_b{i}") / n
        cdf_q += q_raw[i]
        w1n = w1n + F.abs(cdf_p - F.lit(cdf_q))
    w1n = w1n / bins
    return agg.select("window", "n_events", F.round(psi, 6).alias("psi"),
                      F.round(w1n, 6).alias("w1_norm"))


def session_metrics(stream_df, ts_col: str, key_col: str,
                    gap: str = "30 minutes", watermark: str = "1 hour",
                    metric_exprs: Optional[Dict[str, "F.Column"]] = None):
    """Streaming sessionization via Spark's native session_window:
    per-(key, session) aggregates where a session closes after ``gap``
    inactivity — the streaming counterpart of the batch
    q_sessionize_events LAG idiom, with state eviction driven by the
    watermark instead of a full-history window."""
    exprs = metric_exprs or {"n_events": F.count(F.lit(1))}
    stream_df = _with_event_time(stream_df, ts_col)
    return (stream_df
            .withWatermark(ts_col, watermark)
            .groupBy(F.session_window(F.col(ts_col), gap).alias("session"),
                     F.col(key_col))
            .agg(*[c.alias(a) for a, c in exprs.items()]))


def attribution_join(left_stream, right_stream, key_col: str,
                     left_ts: str = "ts", right_ts: str = "ts",
                     tolerance: str = "30 minutes",
                     watermark: str = "1 hour",
                     join_type: str = "inner"):
    """Stream-stream attribution join: match each right-stream event
    (click/conversion) to the left-stream event (impression/send) with
    the same key whose timestamp precedes it by at most ``tolerance``
    — the canonical ad-attribution / cause-effect pairing.

    Both sides are watermarked and the join condition carries the
    time-range bound, which is what lets Spark EVICT join state: an
    impression older than watermark+tolerance can never match a future
    click, so the state store stays bounded however long the streams
    run (an equi-join without the range bound would buffer both
    streams forever). ``join_type`` "left_outer" emits unmatched
    impressions after their matching horizon expires (attribution
    "no-convert" rows).

    Returns (key, left_ts, right_ts, lag_seconds) plus the remaining
    payload columns, left/right-prefixed on collision.
    """
    lt = _with_event_time(left_stream, left_ts).withWatermark(left_ts, watermark)
    rt = _with_event_time(right_stream, right_ts).withWatermark(right_ts, watermark)
    # disambiguate every column name up front; stream-stream joins
    # cannot rename post-join (analysis resolves on the joined plan)
    lcols = [F.col(c).alias(c if c == key_col else f"l_{c}")
             for c in lt.columns]
    rcols = [F.col(c).alias(f"r_{c}") for c in rt.columns if c != key_col]
    lt = lt.select(*lcols)
    rt = rt.select(F.col(key_col).alias("__rk"), *rcols)
    lts, rts = F.col(f"l_{left_ts}"), F.col(f"r_{right_ts}")
    cond = ((F.col(key_col) == F.col("__rk")) &
            (rts >= lts) &
            (rts <= lts + F.expr(f"INTERVAL {tolerance}")))
    joined = lt.join(rt, cond, join_type).drop("__rk")
    return joined.withColumn(
        "lag_seconds", rts.cast("double") - lts.cast("double"))


class StreamingAnomalyMonitor(_BatchMonitor):
    """Per-micro-batch metric anomaly detection: each batch's scalar
    metrics (one fused 1-row agg) are checked against their own history
    in a MetricsRepository with a DetectionStrategy (ZScore /
    RelativeRateOfChange / AbsoluteChange — the same detectors the
    batch engine runs over repository history), then appended so the
    history grows batch by batch.

    The streaming form of "alert me when row count / null rate /
    mean shifts": state lives in the repository, not the stream, so a
    restarted query resumes against the full history. ``on_alert``
    fires with (batch_id, metric, AnomalyResult) per anomalous metric;
    alerts are also kept on ``self.alerts`` (bounded, last 100).
    """

    def __init__(self, metric_exprs: Dict[str, "F.Column"], repository,
                 detector, on_alert: Optional[Callable] = None,
                 tags: Optional[Dict[str, str]] = None):
        super().__init__(on_alert)
        self.metric_exprs = dict(metric_exprs)
        self.repository = repository
        self.detector = detector
        self.tags = dict(tags or {})

    def _fold(self, batch_df, batch_id: int) -> None:
        row = batch_df.agg(
            *[c.alias(a) for a, c in self.metric_exprs.items()]).collect()[0]
        values = {a: float(row[a]) for a in self.metric_exprs
                  if row[a] is not None}
        for name, value in values.items():
            history = self.repository.series(name, tags=self.tags or None)
            result = self.detector.check(history + [value])
            if result.is_anomaly:
                self._alert(batch_id, name, result)
        _save_batch_metrics(self.repository, batch_id, values, **self.tags)


def _dominant(summary, max_ratio: float):
    """(value, share) for each value whose proven share of an MG
    summary's rows exceeds ``max_ratio``."""
    for item, est in summary.top():
        if est / summary.n <= max_ratio:
            return  # top() is sorted desc — nothing further exceeds
        yield item, est / summary.n


class StreamingHeavyHitterMonitor(_BatchMonitor):
    """Streaming frequency dominance via the mergeable Misra-Gries
    sketch: each micro-batch is sketched in one map-only pass
    (``analyzers.heavy_hitters.mg_sketch``) and folded into the
    running summary with the Agarwal et al. PODS'12 merge, so monitor
    state is k counters — kilobytes — no matter how long the stream
    runs, and the MG theorems (underestimate, floor(n/(k+1)) error
    bound, no false negatives above the bound) hold over the WHOLE
    stream: micro-batch boundaries are just shards, and the merge law
    is shard-order-invariant (pinned by the batch-parity test).

    The streaming form of ``Check.has_no_heavy_hitters``: with
    ``max_ratio`` set, ``on_alert`` fires (batch_id, value, share)
    whenever a value's estimated share of ALL streamed rows exceeds
    the cap. The share uses the underestimate, so an alert is a
    PROOF of dominance (no false positives); detection is guaranteed
    once the true share exceeds max_ratio + 1/(k+1). ``top(n)`` reads
    the current trending values at any point; ``summary`` is the raw
    mergeable state (combinable across queries with ``mg_merge``).
    """

    def __init__(self, column: str, k: int = 256,
                 max_ratio: Optional[float] = None,
                 on_alert: Optional[Callable] = None):
        from ..analyzers.heavy_hitters import MGSummary
        if max_ratio is not None and not 0.0 < max_ratio < 1.0:
            raise ValueError(
                f"max_ratio must be in (0, 1), got {max_ratio}")
        super().__init__(on_alert)
        self.column = column
        self.k = int(k)
        self.max_ratio = max_ratio
        self.summary = MGSummary(k=self.k, n=0, counters={})

    def _fold(self, batch_df, batch_id: int) -> None:
        from ..analyzers.heavy_hitters import mg_merge, mg_sketch
        batch = mg_sketch(batch_df, self.column, k=self.k)
        self.summary = mg_merge([self.summary, batch])
        if self.max_ratio is not None:
            for item, share in _dominant(self.summary, self.max_ratio):
                self._alert(batch_id, item, share)

    def top(self, limit: int = 10):
        """(value, estimated count) — current stream-wide leaders."""
        return self.summary.top(limit)


class StreamingGroupedHeavyHitterMonitor(_BatchMonitor):
    """Per-group streaming dominance (round 11) — the streaming form
    of ``Check.has_no_heavy_hitters_by``: each micro-batch runs ONE
    map-only ``mg_sketch_by`` pass and every group's summary folds
    into its own running MG state with the same Agarwal merge, so the
    monitor holds k counters PER GROUP SEEN — kilobytes per source/
    language, stream-length-independent — and the MG theorems hold
    per group over the whole stream (micro-batches are shards; groups
    never interact, so the merge law applies group-wise, same
    batch-parity argument as the global monitor).

    With ``max_ratio`` set, ``on_alert`` fires (batch_id, group,
    value, share-of-that-group's-rows) on proven per-group dominance.
    ``top(group, n)`` reads one group's leaders; ``groups()`` lists
    groups seen so far.
    """

    def __init__(self, group_column: str, column: str, k: int = 256,
                 max_ratio: Optional[float] = None,
                 on_alert: Optional[Callable] = None):
        if max_ratio is not None and not 0.0 < max_ratio < 1.0:
            raise ValueError(
                f"max_ratio must be in (0, 1), got {max_ratio}")
        super().__init__(on_alert)
        self.group_column = group_column
        self.column = column
        self.k = int(k)
        self.max_ratio = max_ratio
        self.summaries: dict = {}  # group -> MGSummary

    def _fold(self, batch_df, batch_id: int) -> None:
        from ..analyzers.heavy_hitters import mg_merge, mg_sketch_by
        summaries = dict(self.summaries)
        for g, s in mg_sketch_by(batch_df, self.group_column,
                                 self.column, k=self.k).items():
            prev = summaries.get(g)
            summaries[g] = s if prev is None else mg_merge([prev, s])
        self.summaries = summaries
        if self.max_ratio is not None:
            for g in sorted(summaries):
                for item, share in _dominant(summaries[g], self.max_ratio):
                    self._alert(batch_id, g, item, share)

    def groups(self):
        return sorted(self.summaries)

    def top(self, group: str, limit: int = 10):
        """(value, estimated count) for one group's current leaders."""
        s = self.summaries.get(group)
        return [] if s is None else s.top(limit)


def pii_rate_metrics(stream_df, ts_col: str, text_col: str = "text",
                     kinds: Optional[List[str]] = None,
                     window: str = "1 minute",
                     slide: Optional[str] = None,
                     watermark: str = "10 minutes"):
    """Per-window PII exposure dashboard (round 11): document count,
    documents with ANY confirmed structured-PII match, total match
    count, and the affected-doc ratio — the streaming companion to the
    batch release gate (``Check.has_no_pii`` / corpus_pii_summary).

    Reuses the SAME codegen expressions as the batch gate
    (``operators.pii.pii_count_expr`` — regex candidates, Luhn-gated
    cards), so streamed and batch readings agree exactly on identical
    rows.  Pure additive sums over a watermarked window — no distinct,
    no UDF, state bounded by windows in flight; safe in append mode.
    """
    from ..operators.pii import _kinds, pii_count_expr
    ks = _kinds(kinds)
    txt = F.coalesce(F.col(text_col), F.lit(""))
    total = sum((pii_count_expr(txt, k) for k in ks), F.lit(0))
    exprs = {
        "n_docs": F.count(F.lit(1)),
        "docs_with_pii": F.count(F.when(total > 0, 1)),
        "total_pii": F.sum(total).cast("bigint"),
        "pii_ratio": F.round(
            F.count(F.when(total > 0, 1)) / F.count(F.lit(1)), 6),
    }
    return windowed_metrics(stream_df, ts_col, exprs, window, slide,
                            watermark)


class StreamingPiiMonitor(_BatchMonitor):
    """Stream-wide PII release gate: every micro-batch runs the SAME
    map-only scan as the batch gate (one fused agg per batch — regex
    candidates + Luhn confirmation, all codegen), and the monitor
    keeps two running counters (docs seen, docs with a confirmed
    match) — constant state no matter how long the stream runs, and
    counts are exact, not sketched: PII exposure is additive, so
    micro-batch boundaries change nothing (unlike the heavy-hitter
    monitor, which needs the MG merge law for that property).

    With ``max_ratio`` set (default 0 — the release-gate posture),
    ``on_alert`` fires (batch_id, cumulative_ratio, batch_hits) the
    moment the cumulative affected-doc ratio exceeds the cap; the
    alert carries the batch that tipped it.  ``status()`` reads the
    running exposure at any point.
    """

    def __init__(self, text_col: str = "text",
                 kinds: Optional[List[str]] = None,
                 max_ratio: float = 0.0,
                 on_alert: Optional[Callable] = None):
        from ..operators.pii import _kinds
        if not 0.0 <= max_ratio <= 1.0:
            raise ValueError(f"max_ratio must be in [0, 1], got {max_ratio}")
        super().__init__(on_alert)
        self.text_col = text_col
        self.kinds = tuple(_kinds(kinds))
        self.max_ratio = float(max_ratio)
        self.n_docs = 0
        self.docs_with_pii = 0
        self.total_pii = 0

    def _fold(self, batch_df, batch_id: int) -> None:
        from ..operators.pii import pii_count_expr
        txt = F.coalesce(F.col(self.text_col), F.lit(""))
        total = sum((pii_count_expr(txt, k) for k in self.kinds), F.lit(0))
        row = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(total > 0, 1)).alias("hit_docs"),
            F.coalesce(F.sum(total), F.lit(0)).alias("hits")).collect()[0]
        self.n_docs += row["n"]
        self.docs_with_pii += row["hit_docs"]
        self.total_pii += int(row["hits"])
        ratio = self.status()["pii_ratio"]
        if ratio > self.max_ratio and row["hit_docs"] > 0:
            self._alert(batch_id, ratio, row["hit_docs"])

    def status(self) -> dict:
        return {"n_docs": self.n_docs,
                "docs_with_pii": self.docs_with_pii,
                "total_pii": self.total_pii,
                "pii_ratio": (self.docs_with_pii / self.n_docs
                              if self.n_docs else 0.0)}


class StreamingDistinctMonitor(_BatchMonitor):
    """Stream-wide distinct-count tracking via mergeable HLL sketches —
    the streaming companion of the persisted distinct-count index
    (analyzers/distinct_index.py): every micro-batch is sketched in one
    fused aggregation (all tracked columns ride the same pass,
    map-side combined) and folded into ONE running blob per column, so
    monitor state is a few KB per column no matter how long the stream
    runs, and the estimate covers the WHOLE stream — register MAX is
    commutative/associative/idempotent, so micro-batch boundaries
    cannot double-count, the property running COUNT(DISTINCT) sums
    lack.  A replayed batch is skipped like in every monitor here, so
    ``n_rows`` counts it once.

    With ``max_distinct`` set for a column, ``on_alert`` fires
    (batch_id, column, estimate) when the stream-wide estimate first
    exceeds the cap — the cardinality-explosion tripwire (runaway id
    generators, unbounded label spaces).  ``estimates()`` reads the
    current stream-wide distinct counts at any point.
    """

    def __init__(self, columns: List[str], lgk: int = 12,
                 max_distinct: Optional[Dict[str, float]] = None,
                 on_alert: Optional[Callable] = None):
        from ..analyzers.base import hll_lg_k
        from ..functions.security import validate_identifiers
        super().__init__(on_alert)
        self.columns = list(validate_identifiers(columns))
        if not self.columns:
            raise ValueError("StreamingDistinctMonitor: empty column list")
        self.lgk = hll_lg_k(lgk)
        self.max_distinct = dict(max_distinct or {})
        unknown = set(self.max_distinct) - set(self.columns)
        if unknown:
            raise ValueError(f"max_distinct for untracked columns: "
                             f"{sorted(unknown)}")
        self.n_rows = 0
        self._blobs: Dict[str, bytes] = {}   # column -> running sketch
        self._spark = None  # the last batch's session, for estimates()
        self._tripped: set = set()

    def _fold(self, batch_df, batch_id: int) -> None:
        from ..analyzers.base import hll_sketch, hll_union
        spark = batch_df.sparkSession
        aggs = [hll_sketch(c, self.lgk).alias(c) for c in self.columns]
        aggs.append(F.count(F.lit(1)).alias("__n"))
        row = batch_df.agg(*aggs).collect()[0]
        fresh = [(c, row[c]) for c in self.columns if row[c] is not None]
        blobs = self._blobs
        if fresh:
            # fold into the running blob: one tiny job over <= 2 rows
            # per column (stored + batch), never the batch data again
            blobs = {r["key"]: r["blob"] for r in hll_union(
                spark, list(self._blobs.items()) + fresh).collect()}
        self.n_rows += row["__n"]
        self._blobs = blobs
        self._spark = spark
        if not self.max_distinct:
            return
        for c, est in self.estimates().items():
            cap = self.max_distinct.get(c)
            if cap is not None and est > cap and c not in self._tripped:
                self._tripped.add(c)
                self._alert(batch_id, c, est)

    def estimates(self) -> Dict[str, int]:
        """Stream-wide distinct-count estimate per tracked column."""
        from ..analyzers.base import hll_estimate
        out = {c: 0 for c in self.columns}
        if self._blobs:
            out.update(hll_estimate(self._spark, list(self._blobs.items())))
        return out


class StreamingQuantileMonitor(_BatchMonitor):
    """Stream-wide quantile tracking via mergeable grid states — the
    streaming companion of the persisted quantile index
    (analyzers/quantile_index.py), completing the quantile family's
    batch/grouped/incremental/streaming symmetry: every micro-batch is
    sketched in ONE fused count/min/max/percentile_approx aggregation
    (all tracked columns ride the same pass, map-side combined), and
    readings merge ALL per-batch states in one level — the same
    2/k + 1/accuracy rank bound as the persisted tier, not a
    compounding per-batch fold.

    Replay safety: the weighted-grid merge is NOT idempotent (a
    replayed batch would double-weight, the COUNT discipline), so the
    core's dedup on ``batch_id`` is what makes readings exactly-once
    (pinned by test).

    With ``bounds`` set — {column: (q, lo, hi)} — ``on_alert`` fires
    (batch_id, column, q, estimate) when the STREAM-WIDE q-quantile
    first leaves [lo, hi]: the distribution tripwire (p95 document
    length collapsing = boilerplate flood; p99 token count rising =
    context-window overflow ahead).  ``quantiles(probs)`` reads the
    current stream-wide estimates at any point.

    State: O(batches × k) doubles on the driver (a day of 1-minute
    micro-batches at k=200 ≈ 2 MB); ``compact()`` folds history into
    one state at the cost of one extra merge level of rank error —
    the persisted tier's compaction contract, verbatim.
    """

    def __init__(self, columns: List[str], k: int = 200,
                 accuracy: int = 10000,
                 bounds: Optional[Dict[str, tuple]] = None,
                 on_alert: Optional[Callable] = None):
        from ..analyzers.quantile_sketch import QuantileSketchAnalyzer
        from ..functions.security import validate_identifiers
        super().__init__(on_alert)
        self.columns = list(validate_identifiers(columns))
        if not self.columns:
            raise ValueError("StreamingQuantileMonitor: empty column list")
        self._anas = {c: QuantileSketchAnalyzer(c, k=int(k),
                                                accuracy=int(accuracy))
                      for c in self.columns}
        self.k = int(k)
        self.bounds = dict(bounds or {})
        unknown = set(self.bounds) - set(self.columns)
        if unknown:
            raise ValueError(f"bounds for untracked columns: "
                             f"{sorted(unknown)}")
        for c, (q, lo, hi) in self.bounds.items():
            if not (0.0 <= q <= 1.0 and lo <= hi):
                raise ValueError(f"bounds[{c}] must be (q in [0,1], lo <= hi)")
        self.n_rows = 0
        self._states: Dict[str, list] = {c: [] for c in self.columns}
        self._tripped: set = set()

    def _fold(self, batch_df, batch_id: int) -> None:
        aggs = [e.alias(a) for an in self._anas.values()
                for a, e in an.state_exprs().items()]
        aggs.append(F.count(F.lit(1)).alias("__rows"))
        row = batch_df.agg(*aggs).collect()[0]
        # every new state is built before the commit below, so a
        # conversion that throws leaves no column folded twice on retry
        new_states = {c: an.state_from_row(row)
                      for c, an in self._anas.items()}
        self.n_rows += row["__rows"]
        for c, st in new_states.items():
            if st["n"]:
                self._states[c].append(st)
        for c, (q, lo, hi) in self.bounds.items():
            if c in self._tripped or not self._states[c]:
                continue
            an = self._anas[c]
            est = an.quantile_from_state(an.merge_states(self._states[c]), q)
            if not lo <= est <= hi:
                self._tripped.add(c)
                self._alert(batch_id, c, q, est)

    def quantiles(self, probs) -> Dict[str, Dict[float, float]]:
        """Stream-wide quantile estimates: {column: {p: value}} — one
        single-level merge of the per-batch states per column (the
        persisted tier's probe, driver-side)."""
        out = {}
        for c, an in self._anas.items():
            merged = an.merge_states(self._states[c])  # NaN when empty
            out[c] = {float(p): an.quantile_from_state(merged, float(p))
                      for p in probs}
        return out

    def compact(self) -> None:
        """Fold history into one state per column — O(k) memory again,
        plus one merge level of rank error (the tier's compaction
        contract)."""
        for c, an in self._anas.items():
            if len(self._states[c]) > 1:
                self._states[c] = [an.merge_states(self._states[c])]


class StreamingEmbeddingQualityMonitor(_BatchMonitor):
    """Stream-wide embedding hygiene gate — the streaming companion of
    ``Check.has_valid_embeddings`` (operators/similarity.py), sharing
    its ``bad_embedding_cond`` predicate so batch and stream can never
    disagree on what an unusable vector is: every micro-batch runs one
    fused map-only aggregation (total rows + bad rows — NULL array,
    wrong dim, NaN/Inf element, zero norm, optionally off-unit norm),
    and the monitor keeps two running counters — constant driver state
    for an unbounded stream, exact counts (badness is additive).

    Exactly-once: counts are NOT idempotent, so the core's dedup on
    batch_id keeps a replay of a folded batch from double-counting,
    while a failed collect retried by Spark still folds.

    ``on_alert`` fires (batch_id, cumulative_ratio, batch_bad) the
    moment the cumulative bad ratio exceeds ``max_bad_ratio`` and the
    tipping batch contributed bad rows; ``status()`` reads the running
    exposure at any point.
    """

    def __init__(self, column: str = "embedding",
                 expect_dim: Optional[int] = None,
                 require_unit_norm: bool = False,
                 norm_tol: float = 1e-3,
                 max_bad_ratio: float = 0.0,
                 on_alert: Optional[Callable] = None):
        from ..functions.security import validate_identifier
        if not 0.0 <= max_bad_ratio <= 1.0:
            raise ValueError(
                f"max_bad_ratio must be in [0, 1], got {max_bad_ratio}")
        if norm_tol <= 0:
            raise ValueError(f"norm_tol must be > 0, got {norm_tol}")
        super().__init__(on_alert)
        self.column = validate_identifier(column)
        self.expect_dim = int(expect_dim) if expect_dim is not None else None
        self.require_unit_norm = bool(require_unit_norm)
        self.norm_tol = float(norm_tol)
        self.max_bad_ratio = float(max_bad_ratio)
        self.n_vecs = 0
        self.n_bad = 0

    def _fold(self, batch_df, batch_id: int) -> None:
        from ..operators.similarity import bad_embedding_cond
        bad = bad_embedding_cond(self.column, self.expect_dim,
                                 self.require_unit_norm, self.norm_tol)
        row = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(bad).alias("bad")).collect()[0]
        self.n_vecs += int(row["n"])
        self.n_bad += int(row["bad"])
        ratio = self.status()["bad_ratio"]
        if ratio > self.max_bad_ratio and int(row["bad"]) > 0:
            self._alert(batch_id, ratio, int(row["bad"]))

    def status(self) -> dict:
        return {"n_vecs": self.n_vecs, "n_bad": self.n_bad,
                "bad_ratio": (self.n_bad / self.n_vecs
                              if self.n_vecs else 0.0)}
