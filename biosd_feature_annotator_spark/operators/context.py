"""Per-conversation profiles of a transcript table: its shape
(conversation_stats), agent-loop repetition (conv_repetition) and tool
chains (tool_paths). Each is keyed by conv_id, the pipeline's hash
partitioning key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def conversation_stats(transcripts: DataFrame) -> DataFrame:
    """Per-conversation profile of an agent-transcript table — the
    campaign-scoping report run before an annotation pass (how long
    are conversations, how tool-heavy, how dense in time) and the
    per-conv quality gate after one (a conv with 400 turns in 2
    seconds is synthetic junk). One row per conv_id:

        n_turns, n_user, n_assistant, n_tool_role (role = 'tool'),
        n_tool_calls (tool column set), n_chars, max_turn_chars,
        span_sec (last ts − first ts, floored epochs),
        mean_gap_micro = span_sec·1e6 // (n_turns − 1)  (NULL for
        single-turn convs — turns are totally ordered per conv, so the
        mean inter-turn gap IS span/(n−1); no per-gap window needed)

    Scale shape: ONE conv-keyed map-side-combinable aggregation — the
    same hash(conv_id) key the pipeline already partitions by, so
    under the bucketed layout this is shuffle-free. All counts exact;
    the only division is the floored-micro mean."""
    from pyspark.sql import functions as F

    us = (
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        "cast(ts as timestamp_ntz))"
    )
    ep = F.expr(f"({us} - pmod({us}, 1000000)) div 1000000").cast("long")
    agg = (
        transcripts.select(
            "conv_id", "role", "tool",
            F.length("text").alias("_chars"), ep.alias("_ep"),
        )
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.when(F.col("role") == "user", 1).otherwise(0))
            .alias("n_user"),
            F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0))
            .alias("n_assistant"),
            F.sum(F.when(F.col("role") == "tool", 1).otherwise(0))
            .alias("n_tool_role"),
            F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0))
            .alias("n_tool_calls"),
            F.sum("_chars").alias("n_chars"),
            F.max("_chars").alias("max_turn_chars"),
            (F.max("_ep") - F.min("_ep")).alias("span_sec"),
        )
    )
    dec = "decimal(38,0)"
    num = F.col("span_sec").cast(dec) * F.lit(1_000_000).cast(dec)
    den = (F.col("n_turns") - F.lit(1)).cast(dec)
    return agg.withColumn(
        "mean_gap_micro",
        F.when(
            F.col("n_turns") > 1,
            ((num - F.pmod(num, den)) / den).cast("long"),
        ),
    )


def conv_repetition(transcripts: DataFrame) -> DataFrame:
    """Agent-loop detector: per conversation, how many turns are exact
    (whitespace/case-normalized) repeats of an EARLIER turn in the same
    conversation — the "the agent is stuck retrying the same reply"
    signal that per-document repetition features can't see because each
    turn looks clean in isolation. Returns (conv_id, n_turns,
    n_dup_turns, dup_micro) with dup_micro = n_dup_turns·1e6//n_turns.

    Scale shape: one (conv, normalized-text) window (row_number > 1
    marks repeats — the dedup_exact discipline scoped to the conv) and
    one conv-keyed combinable rollup; both shuffles share the conv
    hash key with the pipeline's layout. Ties are pinned by turn_idx,
    so 'which occurrence is the original' is deterministic."""
    from pyspark.sql import Window, functions as F

    from .dedup import norm_text_col

    w = Window.partitionBy("conv_id", "_norm").orderBy("turn_idx")
    marked = transcripts.select(
        "conv_id", "turn_idx", norm_text_col(F.col("text")).alias("_norm")
    ).withColumn("_occ", F.row_number().over(w))
    agg = marked.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.when(F.col("_occ") > 1, 1).otherwise(0))
        .alias("n_dup_turns"),
    )
    dec = "decimal(38,0)"
    num = F.col("n_dup_turns").cast(dec) * F.lit(1_000_000).cast(dec)
    den = F.col("n_turns").cast(dec)
    return agg.withColumn(
        "dup_micro", ((num - F.pmod(num, den)) / den).cast("long")
    )


def tool_paths(transcripts: DataFrame, k_prefix: int = 3) -> DataFrame:
    """Tool-usage journey mining: each conversation reduced to its
    first k_prefix tool invocations in turn order ('search>fetch>calc')
    and counted per path — "how do agents actually chain tools", the
    transcript twin of funnel.session_paths (there sessions are
    gap-derived; here the conversation IS the session). Conversations
    with no tool calls are excluded (they have no path, not an empty
    one). Returns (path, n_convs, path_len).

    Scale shape: filter to tool turns AT THE SCAN (tool IS NOT NULL
    reaches the parquet reader), one conv-keyed window with the rank
    cut BEFORE the collect, one path-keyed combinable count."""
    from pyspark.sql import Window, functions as F

    calls = transcripts.where(F.col("tool").isNotNull()).select(
        "conv_id", "turn_idx", "tool"
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    firsts = (
        calls.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k_prefix)
        .groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col("_rk").alias("rk"),
                                 F.col("tool").alias("t"))
                    )),
                    lambda s: s.t,
                ),
                ">",
            ).alias("path"),
            F.count(F.lit(1)).alias("path_len"),
        )
    )
    return firsts.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.max("path_len").cast("long").alias("path_len"),
    )
