"""Thread / conversation assembly (scale extension, no reference
counterpart — the standard chat-data preparation step: flatten an event
or message log into one ordered transcript per thread for LLM training).

Order-sensitive grouped concatenation: Spark aggregates are
order-nondeterministic, so the transcript is built as
array_sort(collect_list(struct(order keys..., text))) — the sort key is
(ts, id), unique per row, making the result partitioning-independent —
then projected to text. One groupBy shuffle whose rows carry
(key, turn structs); per-key memory is the whole conversation, which is
the operator's contract (conversations are bounded; `max_turns` slices
the head deterministically when they are not).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["assemble_threads", "session_paths"]


def assemble_threads(
    df: DataFrame,
    text_expr: Column,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    sep: str = "\n",
    max_turns: int | None = None,
) -> DataFrame:
    """(key, n_turns, first_ts, last_ts, transcript, transcript_md5):
    one ordered transcript per thread.

    `text_expr` renders one turn (keep it engine-portable: printf-style
    formatting, not double→string casts). Turns are ordered by
    (ts, id) — unique, so the output is bit-stable under any
    partitioning. `max_turns` keeps the FIRST n turns — enforced with a
    per-key row_number BEFORE the aggregate, so collect_list state is
    bounded by max_turns even for a pathological hot thread (the window
    and the aggregate share the same key, one shuffle; WindowExec spills
    oversized threads to disk instead of holding them in agg state);
    n_turns / last_ts still describe the FULL thread via unbounded-frame
    window aggregates computed in the same WindowExec pass.
    """
    turn = F.struct(
        F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("_id"),
        text_expr.alias("_txt"),
    )
    if max_turns is not None:
        from pyspark.sql import Window

        # Full-thread totals ride the SAME window partitioning as the
        # row_number cut (one WindowExec group, no totals join): count and
        # max(ts) use the unbounded frame so they describe the whole
        # thread even though only the first max_turns rows survive the
        # filter. The groupBy that follows shares the window's hash
        # partitioning, so the plan stays one exchange, one scan, no join.
        w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
        wfull = w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        rows = (
            df.withColumn("_rn", F.row_number().over(w))
            .withColumn("_full_n", F.count("*").over(wfull))
            .withColumn("_full_first", F.min(ts_col).over(wfull))
            .withColumn("_full_last", F.max(ts_col).over(wfull))
            .filter(F.col("_rn") <= max_turns)
        )
        # first_ts must also come from the FULL-thread window: min over
        # the kept head rows alone is NULL when those rows' ts are NULL
        # (NULLS FIRST ordering keeps them), while window min skips NULLs
        agg = rows.groupBy(key_col).agg(
            F.array_sort(F.collect_list(turn)).alias("_turns"),
            F.first("_full_n").alias("n_turns"),
            F.first("_full_first").alias("_first"),
            F.first("_full_last").alias("_last"),
        )
    else:
        agg = df.groupBy(key_col).agg(
            F.array_sort(F.collect_list(turn)).alias("_turns"),
            F.count("*").alias("n_turns"),
            F.min(ts_col).alias("_first"),
            F.max(ts_col).alias("_last"),
        )
    turns = F.col("_turns")
    transcript = F.array_join(
        F.transform(turns, lambda t: t["_txt"]), sep
    )
    # transcript is rendered once as a named column; the md5 references
    # the attribute (CollapseProject-safe), not the render subtree
    return agg.select(
        key_col,
        "n_turns",
        F.date_format("_first", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format("_last", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        transcript.alias("transcript"),
    ).withColumn("transcript_md5", F.md5("transcript"))


def session_paths(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
    gap_seconds: int = 1800,
    max_steps: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Top behavioral paths: sessionize the event log (gap rule), render
    each session's first `max_steps` event types as an ordered path
    string, count paths, keep the top_k — the "what do users actually
    do" funnel-discovery report.

    Determinism: the path is built from
    array_sort(collect_list(struct(ts, order, type))) — the sort key is
    unique per row (assemble_threads' convention), so the concatenation
    is partitioning-independent; top-k ties break on the path string.
    Scale: one user-hash window pass for session ids (shared sort),
    one groupBy(session) carrying (ts, order, type) structs, one
    count aggregate over |distinct paths| rows, TakeOrdered for the
    top-k — no global sort. Only the first `max_steps` rows of each
    session reach the groupBy (r13): the path is a function of the
    session's first steps only, and on a Zipf-activity log the old
    whole-session collect_list put the hot user's entire
    session — 1.3M structs at the 100× skew tier — into ONE group's
    array_sort (measured 20.1 s, exp 0.61; 5.6 s, exp 0.28 after).
    The in-session rank comes from the SAME user window pass: a
    running max over session-start positions, no extra shuffle.

    Raises ValueError when `max_steps < 1` (the first-steps filter
    would otherwise drop every session).
    """
    if max_steps < 1:
        raise ValueError(f"max_steps must be >= 1, got {max_steps}")
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    flagged = events.select(
        user_col,
        ts_col,
        order_col,
        F.coalesce(F.col(type_col), F.lit("")).alias("__type"),
    ).withColumn(
        "__new",
        F.when(
            F.lag(ts_col).over(w).isNull()
            | (
                (F.unix_timestamp(ts_col) - F.unix_timestamp(F.lag(ts_col).over(w)))
                > gap_seconds
            ),
            1,
        ).otherwise(0),
    )
    sess = (
        flagged.withColumn("__sid", F.sum("__new").over(run))
        .withColumn("__pos", F.row_number().over(w))
        .withColumn(
            # position of the CURRENT session's first row: the latest
            # session-start position at or before this row (running
            # max over the same ordered frame — shares the window pass)
            "__sstart",
            F.max(
                F.when(F.col("__new") == 1, F.col("__pos"))
            ).over(run),
        )
        # keep only each session's first max_steps rows — the only
        # rows the path can depend on; the hot session's tail never
        # shuffles into the collect_list group
        .filter(F.col("__pos") - F.col("__sstart") < max_steps)
    )
    per_session = sess.groupBy(user_col, "__sid").agg(
        F.array_sort(
            F.collect_list(F.struct(ts_col, order_col, "__type"))
        ).alias("__turns")
    )
    path = F.concat_ws(
        ">",
        F.slice(
            F.transform("__turns", lambda t: t["__type"]), 1, max_steps
        ),
    )
    counts = per_session.select(path.alias("path")).groupBy("path").agg(
        F.count("*").alias("n_sessions")
    )
    top = counts.orderBy(F.desc("n_sessions"), F.asc("path")).limit(top_k)
    wr = Window.orderBy(F.desc("n_sessions"), F.asc("path"))
    return top.select(
        F.row_number().over(wr).cast("bigint").alias("rank"),
        "path",
        "n_sessions",
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """(cur_type, next_type, n_transitions, p_ppm): the first-order
    Markov transition matrix of event types within gap sessions — which
    action follows which, the structural complement of session_paths'
    literal top paths. p_ppm = n_transitions·10⁶ DIV row total over
    cur_type (integer-exact conditional probability).

    Determinism: successor via lead over the unique (ts, order) key;
    transitions never cross a session boundary (the successor's session
    id must match). Scale: ONE user-hash window pass computes session
    ids AND successors (same partitioning, shared sort), then a
    (cur, next)-keyed count aggregate with map-side combine — the
    shuffle after the window carries |type|² rows. Output ordered
    (cur_type, next_type)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    flagged = events.select(
        user_col,
        ts_col,
        order_col,
        F.coalesce(F.col(type_col), F.lit("")).alias("__type"),
    ).withColumn(
        "__new",
        F.when(
            F.lag(ts_col).over(w).isNull()
            | (
                (
                    F.unix_timestamp(ts_col)
                    - F.unix_timestamp(F.lag(ts_col).over(w))
                )
                > gap_seconds
            ),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn("__sid", F.sum("__new").over(w))
    paired = sess.select(
        F.col("__type").alias("cur_type"),
        F.lead("__type").over(w).alias("__next"),
        (F.lead("__sid").over(w) == F.col("__sid")).alias("__same"),
    ).filter(F.col("__next").isNotNull() & F.col("__same"))
    counts = paired.groupBy("cur_type", F.col("__next").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wt = Window.partitionBy("cur_type")
    return (
        counts.withColumn("__tot", F.sum("n_transitions").over(wt))
        .select(
            "cur_type",
            "next_type",
            "n_transitions",
            F.expr("n_transitions * 1000000 DIV __tot").alias("p_ppm"),
        )
        .orderBy("cur_type", "next_type")
    )


def burstiness_profile(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """(event_type, n_intervals, mean_gap_s, burstiness): the
    Goh-Barabási burstiness B = (σ−μ)/(σ+μ) of user inter-arrival
    seconds per event type — B→-1 periodic/bot cadence, B≈0 Poisson,
    B→+1 heavy-tailed human bursts. The one-number companion to
    interarrival_profile's median/MAD view.

    Exact assembly: per-type integer moment sums (n, Σd, Σd²) in
    DECIMAL(38,0); σ·n = sqrt(n·Σd² − (Σd)²) is the square root of an
    exact integer (correctly rounded, identical both engines), so
    B = (sqrt(nΣd²−S²) − S)/(sqrt(nΣd²−S²) + S) — the n's cancel —
    and mean = S/n are bit-identical doubles rounded once at emit.
    Degenerate all-zero gaps emit NULL.

    One user-hash window pass for the lag deltas, one tiny per-type
    aggregate."""
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    deltas = events.select(
        F.coalesce(F.col(type_col), F.lit("")).alias("event_type"),
        (
            F.unix_timestamp(ts_col)
            - F.unix_timestamp(F.lag(ts_col).over(w))
        ).alias("d"),
    ).filter(F.col("d").isNotNull())
    d38 = "decimal(38,0)"
    mom = deltas.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("d").cast(d38)).alias("s"),
        F.sum(F.col("d").cast(d38) * F.col("d").cast(d38)).alias("ss"),
    )
    sig_n = F.sqrt((F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double"))
    s_d = F.col("s").cast("double")
    return mom.select(
        "event_type",
        F.col("n").cast("long").alias("n_intervals"),
        F.round(s_d / F.col("n").cast("double"), 6).alias("mean_gap_s"),
        F.when(
            sig_n + s_d > 0,
            F.round((sig_n - s_d) / (sig_n + s_d), 6),
        ).alias("burstiness"),
    ).orderBy("event_type")
