"""Declarative data-quality constraints (Deequ / dbt-tests shape).

A curation pipeline that feeds a trainer needs machine-checkable gates:
"this column is never NULL", "this key is unique", "every foreign key
resolves". This module evaluates a rule list into ONE small report
frame (rule, violations, total, passed) so a campaign can assert
`report.where(~passed).count() == 0` before materializing.

Scale shape: all ROW-LEVEL rules (not_null / accepted_values / range /
matches) fold into a SINGLE aggregation pass — one job, one global agg
of conditional sums, no shuffle of data rows. uniqueness adds one
map-side-combinable count shuffle per rule; referential integrity one
left-anti join per rule (broadcast when the dimension is small). The
report itself is rules-sized, never data-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def not_null(col: str) -> dict:
    return {"kind": "not_null", "col": col, "name": f"not_null({col})"}


def accepted_values(col: str, values: list) -> dict:
    return {"kind": "accepted_values", "col": col, "values": list(values),
            "name": f"accepted_values({col})"}


def in_range(col: str, lo, hi) -> dict:
    return {"kind": "range", "col": col, "lo": lo, "hi": hi,
            "name": f"range({col},{lo},{hi})"}


def matches(col: str, pattern: str) -> dict:
    return {"kind": "matches", "col": col, "pattern": pattern,
            "name": f"matches({col})"}


def unique(cols: list[str]) -> dict:
    return {"kind": "unique", "cols": list(cols),
            "name": f"unique({','.join(cols)})"}


def referential(col: str, dim: DataFrame, dim_col: str, dim_name: str = "dim") -> dict:
    return {"kind": "referential", "col": col, "dim": dim, "dim_col": dim_col,
            "name": f"referential({col}->{dim_name}.{dim_col})"}


def _row_violation(rule: dict) -> F.Column:
    c = F.col(rule["col"])
    if rule["kind"] == "not_null":
        return c.isNull()
    if rule["kind"] == "accepted_values":
        return c.isNull() | ~c.isin(rule["values"])
    if rule["kind"] == "range":
        return c.isNull() | (c < F.lit(rule["lo"])) | (c > F.lit(rule["hi"]))
    if rule["kind"] == "matches":
        return c.isNull() | ~c.rlike(rule["pattern"])
    raise ValueError(rule["kind"])


def check_constraints(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Evaluate rules over df → (rule, violations, total, passed),
    one row per rule, in deterministic rule order."""
    row_rules = [r for r in rules if r["kind"] in
                 ("not_null", "accepted_values", "range", "matches")]
    reports = []

    if row_rules:
        aggs = [F.count(F.lit(1)).alias("_total")] + [
            F.sum(F.when(_row_violation(r), 1).otherwise(0))
            .cast("long").alias(f"_v{i}")
            for i, r in enumerate(row_rules)
        ]
        row = df.agg(*aggs)
        for i, r in enumerate(row_rules):
            reports.append(row.select(
                F.lit(r["name"]).alias("rule"),
                F.col(f"_v{i}").alias("violations"),
                F.col("_total").alias("total"),
            ))

    for r in rules:
        if r["kind"] == "unique":
            dup = (
                df.groupBy(*r["cols"]).agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") > 1)
                .agg(F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("v"))
            )
            total = df.agg(F.count(F.lit(1)).alias("t"))
            reports.append(dup.crossJoin(total).select(
                F.lit(r["name"]).alias("rule"),
                F.col("v").alias("violations"),
                F.col("t").alias("total"),
            ))
        elif r["kind"] == "referential":
            dangling = (
                df.where(F.col(r["col"]).isNotNull())
                .join(
                    r["dim"].select(F.col(r["dim_col"]).alias(r["col"])).distinct(),
                    r["col"], "left_anti",
                )
                .agg(F.count(F.lit(1)).cast("long").alias("v"))
            )
            total = df.agg(F.count(F.lit(1)).alias("t"))
            reports.append(dangling.crossJoin(total).select(
                F.lit(r["name"]).alias("rule"),
                F.col("v").alias("violations"),
                F.col("t").alias("total"),
            ))

    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out.select(
        "rule", "violations", "total",
        (F.col("violations") == 0).alias("passed"),
    )


def chi2_association(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Pearson χ² test of association between two categorical columns,
    plus Cramér's V — the PROFILING complement of the constraint gates
    above: a curation pipeline uses it to detect unexpected coupling
    (e.g. language × source skew that a stratified sampler must respect,
    or a leaking join key). Returns ONE row: (n, r_levels, c_levels,
    dof, chi2_micro, cramers_v_micro).

    Shape: one (a, b) contingency count (map-side combinable, the only
    data-sized shuffle), marginals re-aggregated FROM the cell counts
    (cells are levels², never data-sized), expected counts joined back
    cell-wise. The χ² statistic is a sum of per-cell doubles, so the
    established order-free kernel applies: each cell's contribution
    (o − rc/n)²/(rc/n) is micro-quantized to a LONG and the statistic
    is an exact integer sum — bit-identical on any partitioning and
    replayable by the SQL oracle (each per-cell double is one fixed
    expression shape; only the quantized longs are ever summed).

    NULL categories count as their own level (groupBy semantics kept
    deliberately; filter upstream if NULL should be excluded)."""
    cells = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count("*").alias("o"))
    ra = cells.groupBy("a").agg(F.sum("o").alias("ra"))
    cb = cells.groupBy("b").agg(F.sum("o").alias("cb"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.count_distinct("a").alias("r_levels"),
        F.count_distinct("b").alias("c_levels"),
    )
    contrib = (
        cells.join(ra, "a").join(cb, "b").crossJoin(F.broadcast(tot))
        .select(
            "n", "r_levels", "c_levels",
            F.round(
                (
                    (F.col("o") - F.col("ra") * F.col("cb") / F.col("n"))
                    * (F.col("o") - F.col("ra") * F.col("cb") / F.col("n"))
                    / (F.col("ra") * F.col("cb") / F.col("n"))
                ) * F.lit(1_000_000.0)
            ).cast("long").alias("cell_micro"),
        )
    )
    out = contrib.groupBy("n", "r_levels", "c_levels").agg(
        F.sum("cell_micro").alias("chi2_micro")
    )
    # Cramér's V = sqrt((chi2/n) / min(r-1, c-1)); computed from the
    # exact integer chi2_micro, so the double is one deterministic shape
    v = F.sqrt(
        (F.col("chi2_micro") / F.lit(1_000_000.0))
        / (F.col("n") * F.least(F.col("r_levels") - 1, F.col("c_levels") - 1))
    )
    return out.select(
        "n", "r_levels", "c_levels",
        ((F.col("r_levels") - 1) * (F.col("c_levels") - 1)).alias("dof"),
        "chi2_micro",
        F.when(
            F.least(F.col("r_levels") - 1, F.col("c_levels") - 1) > 0,
            F.round(v * F.lit(1_000_000.0)).cast("long"),
        ).alias("cramers_v_micro"),  # NULL when a column has one level
    )


def robust_outliers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k_num: int = 3,
    k_den: int = 1,
) -> DataFrame:
    """Per-group robust outlier flags on an INTEGER value column →
    every input column plus (med2, mad2, is_outlier). The numeric
    profiling gate beside the categorical χ²: flags |x − median| >
    k · 1.4826 · MAD per group — the median/MAD rule a mean/stddev
    z-score cannot safely apply to skewed pipeline metrics (the
    outliers it hunts corrupt the very moments it would standardize;
    the median and MAD have a 50% breakdown point).

    EXACT integer arithmetic end-to-end — no float ever:
    - med2  = x(⌈n/2⌉) + x(⌊n/2⌋+1), the two middle order statistics
      (twice the median, kept doubled to stay integral for even n);
    - dev   = |2·x − med2|  (= 2·|x − median|);
    - mad2  = the med2 of the dev multiset (= 4·MAD);
    - flag  ⟺ dev · k_den · 20000 > k_num · 14826 · mad2, the
      cross-multiplied form of |x−med| > (k_num/k_den)(14826/10000)·MAD.
    Order statistics at fixed ranks depend only on the value MULTISET
    (ties are interchangeable under a value-ordered row_number), so the
    result is deterministic at any parallelism and replayable exactly
    by a SQL oracle — the same discipline as interval_conflicts'
    multiset counts.

    Shape: two window passes (rank + count per group, value-ordered),
    each followed by a group-sized median aggregate joined back — all
    four shuffles keyed by the group columns, nothing data-squared. A
    constant-ish group count makes the med joins broadcasts. Groups
    with mad2 = 0 (over half the values identical) flag EVERY value
    that differs from the median — the rule's literal degenerate limit
    (|x − med| > k·1.4826·0); callers wanting a floor scale can treat
    mad2 = 0 rows separately, which is why mad2 is an output column."""
    from pyspark.sql import Window

    def med2_of(frame: DataFrame, col: str) -> DataFrame:
        # med2 = x(⌈n/2⌉) + x(⌊n/2⌋+1): for ODD n both ranks name the
        # same row, so it is weighted ×2 — a bare rank-filter + sum
        # would halve odd-group medians
        w = Window.partitionBy(*group_cols).orderBy(F.col(col))
        wn = Window.partitionBy(*group_cols)
        ranked = frame.select(
            *group_cols, col,
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(wn).alias("_n"),
        )
        lo = F.expr("CAST((_n + 1) div 2 AS INT)")
        hi = F.expr("CAST(_n div 2 + 1 AS INT)")
        weight = (
            (F.col("_rn") == lo).cast("long")
            + (F.col("_rn") == hi).cast("long")
        )
        return (
            ranked.where((F.col("_rn") == lo) | (F.col("_rn") == hi))
            .groupBy(*group_cols)
            .agg(
                F.sum(F.col(col) * weight).cast("long").alias(f"_med2_{col}")
            )
        )

    cols = df.columns
    med = med2_of(df.select(*group_cols, value_col), value_col)
    with_med = df.join(med, group_cols).withColumn(
        "_dev",
        F.abs(
            F.lit(2).cast("long") * F.col(value_col)
            - F.col(f"_med2_{value_col}")
        ),
    )
    mad = med2_of(
        with_med.select(*group_cols, "_dev"), "_dev"
    ).withColumnRenamed("_med2__dev", "_mad2")
    return (
        with_med.join(mad, group_cols)
        .select(
            *cols,
            F.col(f"_med2_{value_col}").alias("med2"),
            F.col("_mad2").alias("mad2"),
            (
                F.col("_dev") * F.lit(k_den).cast("long") * F.lit(20_000)
                > F.lit(k_num).cast("long") * F.lit(14_826) * F.col("_mad2")
            ).alias("is_outlier"),
        )
    )


def cohens_kappa(
    df: DataFrame, a: str = "rater_a", b: str = "rater_b"
) -> DataFrame:
    """Inter-rater agreement (Cohen's kappa) between two label columns
    → ONE row (n, n_agree, s_marg, kappa_micro): the label-quality
    gate for curation pipelines — when two annotators (a heuristic
    gate vs a model scorer, or two model versions) disagree no better
    than chance, neither label is trustworthy training signal, and raw
    percent-agreement can't see that (it rewards constant raters).

    kappa = (p_o − p_e)/(1 − p_e) carried exactly:
    n = Σ confusion counts, n_agree = Σ diagonal, s_marg = Σ_label
    rowmargin·colmargin (the chance-agreement numerator over n²), so
    kappa = (n·n_agree − s_marg)/(n² − s_marg). The quantized value is
    a true floor in integer millionths via the same DECIMAL(38,0)
    manual floor as graph.modularity (kappa is negative for
    worse-than-chance raters, and `div` overflows on wide decimals);
    the exact integer components travel alongside for any
    arbitrary-precision consumer. Both raters constant and equal
    (p_e = 1, kappa undefined) yields NULL, documented.

    Shape: one (a, b)-keyed count (the confusion matrix — labels-sized,
    tiny), then everything else is algebra over that matrix: two
    label-keyed margin aggs, one label equi-join, three single-row
    frames crossJoined (broadcast). The data is touched ONCE."""
    conf = df.groupBy(
        F.col(a).alias("_la"), F.col(b).alias("_lb")
    ).agg(F.count(F.lit(1)).alias("_c"))
    totals = conf.agg(
        F.sum("_c").alias("n"),
        F.sum(
            F.when(F.col("_la").eqNullSafe(F.col("_lb")), F.col("_c"))
            .otherwise(F.lit(0))
        ).alias("n_agree"),
    )
    rows = conf.groupBy("_la").agg(F.sum("_c").alias("_ra"))
    cols = conf.groupBy("_lb").agg(F.sum("_c").alias("_cb"))
    s = (
        rows.join(cols, rows["_la"].eqNullSafe(cols["_lb"]))
        .agg(F.coalesce(F.sum(F.col("_ra") * F.col("_cb")), F.lit(0))
             .alias("s_marg"))
    )
    dec = "decimal(38,0)"
    num = (
        F.col("n").cast(dec) * F.col("n_agree").cast(dec)
        - F.col("s_marg").cast(dec)
    ) * F.lit(1_000_000).cast(dec)
    den = (
        F.col("n").cast(dec) * F.col("n").cast(dec)
        - F.col("s_marg").cast(dec)
    )
    return (
        totals.crossJoin(F.broadcast(s))
        .withColumn("_num", num)
        .withColumn("_den", den)
        .select(
            "n",
            "n_agree",
            "s_marg",
            F.when(
                F.col("_den") != F.lit(0).cast(dec),
                ((F.col("_num") - F.pmod(F.col("_num"), F.col("_den")))
                 / F.col("_den")).cast("long"),
            ).alias("kappa_micro"),
        )
    )


def binary_auc(
    df: DataFrame, score_col: str = "score", label_col: str = "is_pos"
) -> DataFrame:
    """ROC AUC of a binary classifier score → ONE row (n_pos, n_neg,
    u2, auc_micro): the threshold-free ranking metric every
    model-assisted curation gate reports — "does the quality scorer
    actually rank kept docs above dropped ones" is an AUC question,
    and at 10^12 rows the sklearn-style sort-everything-on-one-node
    answer does not exist.

    Mann-Whitney with exact tie handling: group rows by score (the
    map-side-combinable pass that touches the data once), then over
    the DISTINCT-score frame compute each tie group's doubled average
    rank 2·r̄ = 2·cum_before + c + 1 (an integer — halves never appear),
    u2 = Σ_pos 2·r̄ − n_pos·(n_pos+1) = twice the U statistic, and
    AUC = u2 / (2·n_pos·n_neg), floored to integer millionths via the
    DECIMAL(38,0) pmod recipe. The exact integers (n_pos, n_neg, u2)
    travel alongside so partial results merge without precision loss.
    Degenerate single-class inputs yield auc_micro = NULL.

    Shape: one score-keyed aggregation of the data, then an
    unpartitioned running-sum window over DISTINCT scores only — use a
    quantized score (integer cents / micros, the repo discipline) so
    that frame is domain-bounded (≤ ~1e6 rows however large the data),
    then a single global agg. Never sorts the data itself."""
    per = df.groupBy(F.col(score_col).alias("_s")).agg(
        F.count(F.lit(1)).alias("_c"),
        F.sum(
            F.when(F.col(label_col), F.lit(1)).otherwise(F.lit(0))
        ).alias("_p"),
    )
    w = (
        Window.orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = per.withColumn(
        "_before", F.coalesce(F.sum("_c").over(w), F.lit(0))
    )
    agg = ranked.agg(
        F.sum("_p").alias("n_pos"),
        F.sum(F.col("_c") - F.col("_p")).alias("n_neg"),
        F.sum(
            F.col("_p")
            * (F.lit(2) * F.col("_before") + F.col("_c") + F.lit(1))
        ).alias("_r2"),
    )
    dec = "decimal(38,0)"
    u2 = (
        F.col("_r2").cast(dec)
        - F.col("n_pos").cast(dec) * (F.col("n_pos").cast(dec) + 1)
    )
    num = u2 * F.lit(1_000_000).cast(dec)
    den = (
        F.lit(2).cast(dec)
        * F.col("n_pos").cast(dec)
        * F.col("n_neg").cast(dec)
    )
    return agg.select(
        "n_pos",
        "n_neg",
        u2.cast("long").alias("u2"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            ((num - F.pmod(num, den)) / den).cast("long"),
        ).alias("auc_micro"),
    )


def calibration_bins(
    df: DataFrame,
    conf_micro_col: str = "conf_micro",
    label_col: str = "is_pos",
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram + expected calibration error over a
    confidence column in integer millionths → one row per occupied bin
    (bin, n, sum_conf_micro, n_pos, gap_micro, ece_micro): a scorer
    that says 0.9 should be right ~90% of the time, and a curation
    threshold chosen on miscalibrated confidences silently shifts the
    kept-data distribution. ECE is the standard audit.

    Exactness: each bin's contribution n_b·|avg_conf − frac_pos| equals
    |sum_conf_micro − n_pos·10^6| EXACTLY in integer micro units (the
    n_b denominators cancel), so gap_micro is a long with no float in
    sight, and ece_micro = floor(Σ gap_micro / N) via the DECIMAL pmod
    floor, repeated on every row for self-contained consumption. The
    per-bin exact components merge across shards (mergeable-state
    discipline).

    Shape: one bins-keyed (≤ `bins` groups) map-side-combinable agg of
    the data, one broadcast of the bins-sized total back onto the bins
    frame. The data is touched once."""
    binc = F.least(
        F.lit(int(bins) - 1).cast("long"),
        F.floor(
            F.col(conf_micro_col) * F.lit(int(bins)) / F.lit(1_000_000)
        ).cast("long"),
    )
    per = (
        df.groupBy(binc.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(conf_micro_col).alias("sum_conf_micro"),
            F.sum(
                F.when(F.col(label_col), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_pos"),
        )
        .withColumn(
            "gap_micro",
            F.abs(
                F.col("sum_conf_micro")
                - F.col("n_pos") * F.lit(1_000_000)
            ),
        )
    )
    tot = per.agg(
        F.sum("n").alias("_N"), F.sum("gap_micro").alias("_G")
    )
    dec = "decimal(38,0)"
    g = F.col("_G").cast(dec)
    n = F.col("_N").cast(dec)
    return per.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "sum_conf_micro",
        "n_pos",
        "gap_micro",
        ((g - F.pmod(g, n)) / n).cast("long").alias("ece_micro"),
    )


def gini_impurity(
    df: DataFrame, group_cols: list[str], label_col: str
) -> DataFrame:
    """Label-balance audit per group → (group…, n, sum_sq, gini_micro,
    hhi_micro): Gini impurity 1 − Σp² and its complement the
    Herfindahl concentration index Σp² over a categorical label's
    distribution inside each group — the training-mix balance check
    ("is src7 all-English?", "did this shard collapse to one class?")
    that entropy usually answers, computed WITHOUT logs so it stays a
    rational of integer counts: gini = (n² − Σc²)/n², floored to
    integer millionths via the DECIMAL(38,0) pmod recipe, with the
    exact integer components (n, Σc²) alongside for lossless merging.

    Shape: one (group, label)-keyed count then one group-keyed agg —
    both map-side combinable; nothing is data-sized downstream."""
    per = df.groupBy(
        *[F.col(c) for c in group_cols], F.col(label_col)
    ).agg(F.count(F.lit(1)).alias("_c"))
    dec = "decimal(38,0)"
    g = per.groupBy(*group_cols).agg(
        F.sum("_c").alias("n"),
        F.sum(F.col("_c").cast(dec) * F.col("_c").cast(dec))
        .cast("long")
        .alias("sum_sq"),
    )
    n2 = F.col("n").cast(dec) * F.col("n").cast(dec)
    gnum = (n2 - F.col("sum_sq").cast(dec)) * F.lit(1_000_000).cast(dec)
    hnum = F.col("sum_sq").cast(dec) * F.lit(1_000_000).cast(dec)
    return g.select(
        *group_cols,
        "n",
        "sum_sq",
        ((gnum - F.pmod(gnum, n2)) / n2).cast("long").alias("gini_micro"),
        ((hnum - F.pmod(hnum, n2)) / n2).cast("long").alias("hhi_micro"),
    )


def tv_distance(
    df: DataFrame,
    key_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Total variation distance between two groups' categorical
    distributions → ONE row (n_a, n_b, n_keys, tv_micro): the
    distribution-drift audit for training mixes — "does src1's
    language profile match src2's", "did the new crawl shift the
    topic histogram" — as the exact rational
    TV = Σ_k |c_a·n_b − c_b·n_a| / (2·n_a·n_b) (common-denominator
    form: no per-key float division, keys absent from one side fall
    out naturally as |c·n_other|). Floored to integer millionths via
    the DECIMAL(38,0) pmod recipe; exact integer totals travel
    alongside. Either side empty → tv_micro NULL.

    Shape: one key-keyed conditional-count agg of the data (map-side
    combinable), a broadcast of the single-row totals back onto the
    keys-sized frame, one final tiny agg. The data is touched once."""
    per = (
        df.where(F.col(group_col).isin([group_a, group_b]))
        .groupBy(F.col(key_col).alias("_k"))
        .agg(
            F.sum(
                F.when(F.col(group_col) == group_a, 1).otherwise(0)
            ).alias("_ca"),
            F.sum(
                F.when(F.col(group_col) == group_b, 1).otherwise(0)
            ).alias("_cb"),
        )
    )
    tot = per.agg(
        F.sum("_ca").alias("n_a"), F.sum("_cb").alias("n_b")
    )
    dec = "decimal(38,0)"
    joined = per.crossJoin(F.broadcast(tot))
    agg = joined.groupBy("n_a", "n_b").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(
            F.abs(
                F.col("_ca").cast(dec) * F.col("n_b").cast(dec)
                - F.col("_cb").cast(dec) * F.col("n_a").cast(dec)
            )
        ).alias("_num"),
    )
    num = F.col("_num") * F.lit(1_000_000).cast(dec)
    den = (
        F.lit(2).cast(dec)
        * F.col("n_a").cast(dec)
        * F.col("n_b").cast(dec)
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_keys",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            ((num - F.pmod(num, den)) / den).cast("long"),
        ).alias("tv_micro"),
    )


def ks_distance(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between two groups'
    NUMERIC distributions → ONE row (n_a, n_b, n_values, ks_micro):
    the numeric twin of tv_distance — "did the new crawl shift the
    document-length distribution", "do this month's order totals match
    last month's" — as the exact rational
    D = max_v |cumA(v)·n_b − cumB(v)·n_a| / (n_a·n_b), floored to
    integer millionths via the DECIMAL(38,0) pmod recipe. No float
    CDFs anywhere; either side empty → NULL.

    Shape: one value-keyed conditional-count agg of the data (map-side
    combinable), then running sums over DISTINCT values only — an
    unpartitioned window, so use a quantized value (integer cents, the
    repo discipline) to keep that frame domain-bounded — then one tiny
    global max. The data is touched once."""
    per = (
        df.where(F.col(group_col).isin([group_a, group_b]))
        .groupBy(F.col(value_col).alias("_v"))
        .agg(
            F.sum(
                F.when(F.col(group_col) == group_a, 1).otherwise(0)
            ).alias("_ca"),
            F.sum(
                F.when(F.col(group_col) == group_b, 1).otherwise(0)
            ).alias("_cb"),
        )
    )
    w = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        F.sum("_ca").over(w).alias("_cuma"),
        F.sum("_cb").over(w).alias("_cumb"),
    )
    tot = per.agg(
        F.sum("_ca").alias("n_a"),
        F.sum("_cb").alias("n_b"),
        F.count(F.lit(1)).alias("n_values"),
    )
    dec = "decimal(38,0)"
    agg = cum.crossJoin(F.broadcast(tot)).groupBy(
        "n_a", "n_b", "n_values"
    ).agg(
        F.max(
            F.abs(
                F.col("_cuma").cast(dec) * F.col("n_b").cast(dec)
                - F.col("_cumb").cast(dec) * F.col("n_a").cast(dec)
            )
        ).alias("_d")
    )
    num = F.col("_d") * F.lit(1_000_000).cast(dec)
    den = F.col("n_a").cast(dec) * F.col("n_b").cast(dec)
    return agg.select(
        "n_a",
        "n_b",
        "n_values",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            ((num - F.pmod(num, den)) / den).cast("long"),
        ).alias("ks_micro"),
    )


def regression_metrics(
    df: DataFrame, y_col: str, yhat_col: str
) -> DataFrame:
    """Exact regression-eval report for INTEGER-quantized targets and
    predictions → ONE row (n, sae, sse, mae_micro, mse_micro,
    r2_micro): the model-quality gate for numeric scorers (a quality
    regressor, a length predictor) without a single float accumulation
    — MAE and MSE are rationals of the long/decimal sums, and R² uses
    the one-pass algebraic identity n·SST = n·Σy² − (Σy)² so
    r2 = (nSST − n·SSE)/nSST needs no second pass for the mean. All
    three floored to integer millionths via the DECIMAL(38,0) pmod
    recipe (R² is NEGATIVE for predictors worse than the mean, so the
    true floor matters); exact components travel alongside and merge
    across shards. Constant targets (SST = 0) → r2_micro NULL.

    Shape: ONE global aggregation of five conditional sums. Nothing
    else."""
    dec = "decimal(38,0)"
    d = F.col(y_col).cast(dec) - F.col(yhat_col).cast(dec)
    y = F.col(y_col).cast(dec)
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.abs(d)).alias("_sae"),
        F.sum(d * d).alias("_sse"),
        F.sum(y).alias("_sy"),
        F.sum(y * y).alias("_syy"),
    )
    n = F.col("n").cast(dec)
    mil = F.lit(1_000_000).cast(dec)
    nsst = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    r2num = (nsst - n * F.col("_sse")) * mil
    maen = F.col("_sae") * mil
    msen = F.col("_sse") * mil
    return agg.select(
        "n",
        F.col("_sae").cast("long").alias("sae"),
        F.col("_sse").cast("long").alias("sse"),
        ((maen - F.pmod(maen, n)) / n).cast("long").alias("mae_micro"),
        ((msen - F.pmod(msen, n)) / n).cast("long").alias("mse_micro"),
        F.when(
            nsst != F.lit(0).cast(dec),
            ((r2num - F.pmod(r2num, nsst)) / nsst).cast("long"),
        ).alias("r2_micro"),
    )


def mannwhitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Exact two-sample Mann-Whitney U (Wilcoxon rank-sum) statistic
    between two groups' INTEGER-quantized distributions → ONE row
    (n_a, n_b, u2_a, rho_micro): the median-shift drift test that
    complements [ks_distance] — KS asks "did the shape change
    anywhere", U asks "did one side stochastically dominate" (a new
    crawl whose document lengths are systematically longer moves U
    long before it moves a mean distorted by outliers). No ranks are
    ever materialized per row and no float appears anywhere:

        U_a = #{(x_a, x_b) : x_a > x_b} + ties/2

    is computed from per-VALUE counts as the doubled integer
    u2_a = Σ_v ca_v·(2·cumb_<v + cb_v), so ties contribute exactly
    half a pair each without a fraction. The common-language effect
    size ρ = U_a/(n_a·n_b) (P[a > b] + ½P[tie]) is floored to integer
    millionths via the DECIMAL(38,0) pmod recipe; ρ = ½ means no
    shift, 1 means total dominance. Either side empty → NULL rho.

    Shape: identical to ks_distance — one map-side-combinable
    conditional-count agg keyed by value, one running sum over
    DISTINCT values (unpartitioned window: quantize the value so the
    distinct domain stays bounded — integer cents, the repo
    discipline), one global sum. The data is touched once."""
    per = (
        df.where(F.col(group_col).isin([group_a, group_b]))
        .groupBy(F.col(value_col).alias("_v"))
        .agg(
            F.sum(
                F.when(F.col(group_col) == group_a, 1).otherwise(0)
            ).alias("_ca"),
            F.sum(
                F.when(F.col(group_col) == group_b, 1).otherwise(0)
            ).alias("_cb"),
        )
    )
    wprev = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    dec = "decimal(38,0)"
    cum = per.select(
        F.col("_ca").cast(dec).alias("_ca"),
        F.col("_cb").cast(dec).alias("_cb"),
        F.coalesce(F.sum("_cb").over(wprev), F.lit(0))
        .cast(dec)
        .alias("_cumb"),
    )
    agg = cum.agg(
        F.sum("_ca").cast("long").alias("n_a"),
        F.sum("_cb").cast("long").alias("n_b"),
        F.sum(
            F.col("_ca")
            * (F.lit(2).cast(dec) * F.col("_cumb") + F.col("_cb"))
        ).alias("_u2"),
    )
    num = F.col("_u2") * F.lit(1_000_000).cast(dec)
    den = (
        F.lit(2).cast(dec)
        * F.col("n_a").cast(dec)
        * F.col("n_b").cast(dec)
    )
    return agg.select(
        "n_a",
        "n_b",
        F.col("_u2").cast("long").alias("u2_a"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            ((num - F.pmod(num, den)) / den).cast("long"),
        ).alias("rho_micro"),
    )


def cluster_pair_metrics(
    df: DataFrame, pred_col: str, gold_col: str
) -> DataFrame:
    """Exact pair-counting evaluation of a predicted clustering against
    a gold clustering → ONE row (n, tp_pairs, pred_pairs, gold_pairs,
    precision_micro, recall_micro, f1_micro, rand_micro, ari_micro):
    THE acceptance gate for entity canonicalization — after
    [connected_components] merges surface forms, pairwise P/R answers
    "of the pairs we merged, how many belong together (precision) and
    how many true co-references did we find (recall)", and the
    Adjusted Rand Index corrects agreement for chance so a trivial
    all-singletons clustering scores 0, not high.

    Everything is integer pair algebra on cluster-size counts — no
    per-pair materialization, no float:

        TP  = Σ_cells C(n_ij, 2)     (cells of the pred×gold table)
        P   = Σ_i C(a_i, 2),  G = Σ_j C(b_j, 2),  C = C(n, 2)
        Rand = (C + 2·TP − P − G) / C
        ARI  = 2·(TP·C − P·G) / (C·(P+G) − 2·P·G)

    C(k,2) doubles as k·(k−1) so every intermediate stays integral;
    micro values are true-floored via the DECIMAL(38,0) pmod recipe
    (ARI is NEGATIVE for adversarial clusterings, so the floor
    matters). Degenerate denominators (all-singleton or one-cluster
    inputs) → NULL for that metric.

    Shape: one (pred, gold) cell-count aggregation of the data —
    map-side combinable, output bounded by #clusters² not rows — then
    cluster-size rollups of the CELLS, never re-touching the data.
    One pass total."""
    dec = "decimal(38,0)"
    cells = df.groupBy(
        F.col(pred_col).alias("_p"), F.col(gold_col).alias("_g")
    ).agg(F.count(F.lit(1)).cast(dec).alias("_c"))
    two = F.lit(2).cast(dec)

    def _pairs2(c):  # doubled pair count k·(k−1) = 2·C(k,2)
        return c * (c - F.lit(1).cast(dec))

    pred_sz = cells.groupBy("_p").agg(F.sum("_c").alias("_a"))
    gold_sz = cells.groupBy("_g").agg(F.sum("_c").alias("_b"))
    agg = (
        cells.agg(
            F.sum("_c").alias("_n"),
            F.sum(_pairs2(F.col("_c"))).alias("_tp2"),
        )
        .crossJoin(
            F.broadcast(
                pred_sz.agg(F.sum(_pairs2(F.col("_a"))).alias("_p2"))
            )
        )
        .crossJoin(
            F.broadcast(
                gold_sz.agg(F.sum(_pairs2(F.col("_b"))).alias("_g2"))
            )
        )
    )
    mil = F.lit(1_000_000).cast(dec)
    c2 = _pairs2(F.col("_n"))  # doubled C(n,2) = n·(n−1)

    def _ratio(numer, denom):
        # true-floored micro ratio, NULL when the denominator is 0
        n_ = numer * mil
        return F.when(
            denom != F.lit(0).cast(dec),
            ((n_ - F.pmod(n_, denom)) / denom).cast("long"),
        )

    tp2, p2, g2 = F.col("_tp2"), F.col("_p2"), F.col("_g2")
    ari_num = two * (tp2 * c2 - p2 * g2)
    ari_den = c2 * (p2 + g2) - two * p2 * g2
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        (tp2 / two).cast("long").alias("tp_pairs"),
        (p2 / two).cast("long").alias("pred_pairs"),
        (g2 / two).cast("long").alias("gold_pairs"),
        _ratio(tp2, p2).alias("precision_micro"),
        _ratio(tp2, g2).alias("recall_micro"),
        _ratio(two * tp2, p2 + g2).alias("f1_micro"),
        _ratio(c2 + two * tp2 - p2 - g2, c2).alias("rand_micro"),
        _ratio(ari_num, ari_den).alias("ari_micro"),
    )


def fd_profile(
    df: DataFrame, fds: list[tuple[str, str]]
) -> DataFrame:
    """Approximate-functional-dependency profiling (the
    Kivinen-Mannila g₂/g₃ error measures from FD discovery) → one row
    per candidate FD (lhs, rhs, n_groups, viol_groups, viol_rows,
    keep_rows, g2_micro, g3_micro): the schema-inference gate a
    curation pipeline runs before trusting a column as a key or a
    deterministic attribute — "does conv_id determine source", "is
    (order, line) really unique". g₂ = fraction of rows living in a
    violating lhs-group; g₃ = minimum fraction of rows that must be
    DELETED to make the FD hold exactly (n − Σ_groups max single-rhs
    count, over n). Both floored to integer millionths via the
    DECIMAL(38,0) pmod recipe. An FD that holds exactly shows
    viol_groups = 0, g2 = g3 = 0.

    Shape per FD: one (lhs, rhs) count aggregation — map-side
    combinable, output bounded by distinct pairs — then one rollup of
    the COUNTS to lhs-groups carrying (n_rhs, rows, max single-rhs
    run), then one rules-sized global sum. The data is touched once
    per FD and never shuffled by row; results for all FDs union into
    one rules-sized report."""
    dec = "decimal(38,0)"
    mil = F.lit(1_000_000).cast(dec)
    reports = []
    for lhs, rhs in fds:
        cells = df.groupBy(
            F.col(lhs).alias("_l"), F.col(rhs).alias("_r")
        ).agg(F.count(F.lit(1)).alias("_c"))
        groups = cells.groupBy("_l").agg(
            F.count(F.lit(1)).alias("_nrhs"),
            F.sum("_c").alias("_rows"),
            F.max("_c").alias("_keep"),
        )
        agg = groups.agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum(F.when(F.col("_nrhs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("viol_groups"),
            F.sum(
                F.when(F.col("_nrhs") > 1, F.col("_rows")).otherwise(0)
            )
            .cast("long")
            .alias("viol_rows"),
            F.sum("_keep").cast("long").alias("keep_rows"),
            F.sum("_rows").cast("long").alias("_n"),
        )
        g2n = F.col("viol_rows").cast(dec) * mil
        g3n = (F.col("_n") - F.col("keep_rows")).cast(dec) * mil
        den = F.col("_n").cast(dec)
        reports.append(
            agg.select(
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                "n_groups",
                "viol_groups",
                "viol_rows",
                "keep_rows",
                F.when(
                    F.col("_n") > 0,
                    ((g2n - F.pmod(g2n, den)) / den).cast("long"),
                ).alias("g2_micro"),
                F.when(
                    F.col("_n") > 0,
                    ((g3n - F.pmod(g3n, den)) / den).cast("long"),
                ).alias("g3_micro"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def k_anonymity_profile(
    df: DataFrame, qi_cols: list[str], k: int
) -> DataFrame:
    """Re-identification risk profile: group rows by the
    quasi-identifier combination and report how much of the table
    lives in groups smaller than k — the release gate a privacy review
    runs before a dataset (or an extracted KG slice) ships. One row:

        n_rows, n_groups, min_group,
        viol_groups / viol_rows  (groups of size < k and their rows),
        risk_micro = viol_rows · 1e6 // n_rows   (floored-exact share
                     of rows that are k-anonymity violations)

    k-anonymity is the weakest of the release criteria (no protection
    against homogeneity / background-knowledge attacks) but it is the standard
    first screen, and the group-size distribution it computes is the
    input to the stronger ones.

    Scale shape: one map-side-combinable (qi…) count — the only
    data-sized shuffle — then a single-row aggregate over the
    groups-sized relation. QI skew is the normal case (huge common
    groups) and is absorbed by the partial aggregation."""
    groups = df.groupBy(*qi_cols).agg(F.count(F.lit(1)).alias("_n"))
    small = F.col("_n") < F.lit(k)
    agg = groups.agg(
        F.sum("_n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("_n").alias("min_group"),
        F.sum(F.when(small, 1).otherwise(0)).alias("viol_groups"),
        F.sum(F.when(small, F.col("_n")).otherwise(0)).alias("viol_rows"),
    )
    dec = "decimal(38,0)"
    num = F.col("viol_rows").cast(dec) * F.lit(1_000_000).cast(dec)
    den = F.col("n_rows").cast(dec)
    return agg.select(
        "n_rows", "n_groups", "min_group", "viol_groups", "viol_rows",
        F.when(
            F.col("n_rows") > 0,
            ((num - F.pmod(num, den)) / den).cast("long"),
        ).alias("risk_micro"),
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """ANALYZE-style column statistics as a tidy relation: one row per
    profiled column with (column, n_rows, n_null, n_distinct, min_val,
    max_val) — the catalog-stats builder whose output feeds join
    ordering, NDV-based broadcast decisions, and the dq rule
    thresholds. min/max are emitted as strings so heterogeneous
    columns share one schema; profile numeric columns as integers (or
    pre-cast) when cross-engine string formatting matters.

    One pass over the data: a single aggregate computes every
    column's stats, then the one-row result is exploded into the tidy
    shape (rows = columns — driver-free, the explode is over an array
    literal of structs). CAVEAT the scale design is explicit about:
    multiple EXACT count_distincts in one aggregate make Spark expand
    each input row once per distinct aggregate (len(cols)×
    amplification before the shuffle). That is the textbook cost of
    exact multi-NDV; HLL-based approx_count_distinct would keep the
    pass at 1×, as a production ANALYZE does, but the exact counts are
    what the oracle checks."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"_n_{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .alias(f"_nn_{c}"),
            F.count_distinct(c).alias(f"_nd_{c}"),
            # min/max on the NATIVE type, cast after: string-cast-first
            # would order numerics lexicographically ("10" < "9")
            F.min(F.col(c)).cast("string").alias(f"_mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_mx_{c}"),
        ]
    one = df.agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"_n_{c}").cast("long").alias("n_rows"),
            F.col(f"_nn_{c}").cast("long").alias("n_null"),
            F.col(f"_nd_{c}").cast("long").alias("n_distinct"),
            F.col(f"_mn_{c}").alias("min_val"),
            F.col(f"_mx_{c}").alias("max_val"),
        )
        for c in cols
    ])
    return one.select(F.explode(rows).alias("_r")).select("_r.*")


def groupwise_ols(
    df: DataFrame,
    key_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-key least-squares trend line from exact integer moments —
    the entity-trend detector of a KG maintenance loop ("is this
    entity's mention rate rising between runs") and the per-segment
    drift line of a monitoring stack. x and y must be INTEGER columns
    (quantize floats once upstream — the engine's micro discipline);
    all five moments (n, Σx, Σy, Σxy, Σx²) are then exact DECIMAL
    sums, order- and partitioning-free, and both fitted coefficients
    are floored millionths derived by a fixed integer chain:

        slope_micro     = ⌊(n·Σxy − Σx·Σy)·1e6 / (n·Σx² − Σx²_sum)⌋
        intercept_micro = ⌊(Σy·1e6 − slope_micro·Σx) / n⌋

    intercept deliberately uses the ALREADY-FLOORED slope so the two
    engines share one rounding chain (no hidden double precision).
    Zero x-variance keys report NULL coefficients rather than a fake
    line. One map-side-combinable aggregation — no shuffle beyond the
    key count; a hot key is one combiner row per partition."""
    dec = "decimal(38,0)"
    x = F.col(x_col).cast(dec)
    y = F.col(y_col).cast(dec)
    agg = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast(dec).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    mil = F.lit(1_000_000).cast(dec)
    s_num = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")) * mil
    s_den = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    slope = F.when(
        s_den != 0,
        ((s_num - F.pmod(s_num, s_den)) / s_den).cast("long"),
    )
    out = agg.withColumn("slope_micro", slope)
    i_num = (
        F.col("_sy") * mil
        - F.col("slope_micro").cast(dec) * F.col("_sx")
    )
    i_den = F.col("_n")
    intercept = F.when(
        F.col("slope_micro").isNotNull(),
        ((i_num - F.pmod(i_num, i_den)) / i_den).cast("long"),
    )
    return out.select(
        *key_cols,
        F.col("_n").cast("long").alias("n"),
        F.col("_sx").cast("long").alias("sum_x"),
        F.col("_sy").cast("long").alias("sum_y"),
        "slope_micro",
        intercept.alias("intercept_micro"),
    )


def categorical_entropy(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Per-group Shannon entropy of a categorical column plus KL
    divergence from the GLOBAL distribution — the information-theoretic
    drift/mixing profile beside tv_distance (bounded, symmetric) and
    ks_distance (ordinal): entropy says how concentrated a source's
    label mix is; KL(group ‖ global) says how far it sits from the
    corpus it feeds, in nats, with the usual asymmetric emphasis on
    categories the group over-represents.

    One row per group: (group…, n, n_levels, entropy_micro, kl_micro).
    Determinism: per-level contributions −p·ln p and p·ln(p/q) are each
    ONE fixed double expression shape micro-quantized to a LONG, and
    the per-group statistic is the exact integer sum of those longs
    (the chi2/PMI kernel) — order- and partitioning-free, replayable
    by the SQL oracle. Levels absent from a group contribute 0 to both
    sums (lim p→0); q > 0 for every level by construction since the
    global distribution includes every group's observations.

    Scale shape: one (group, level) combinable count (the only
    data-sized shuffle); marginals re-aggregated FROM the cells; the
    final sum runs over the cells-sized relation."""
    cells = df.groupBy(
        *group_cols, F.col(value_col).alias("_lv")
    ).agg(F.count(F.lit(1)).alias("_c"))
    gtot = cells.groupBy(*group_cols).agg(
        F.sum("_c").alias("_n"),
        F.count(F.lit(1)).alias("n_levels"),
    )
    lvl = cells.groupBy("_lv").agg(F.sum("_c").alias("_lc"))
    allt = cells.agg(F.sum("_c").alias("_tot"))
    p = F.col("_c") / F.col("_n")
    q = F.col("_lc") / F.col("_tot")
    contrib = (
        cells.join(gtot, list(group_cols))
        .join(F.broadcast(lvl), "_lv")
        .crossJoin(F.broadcast(allt))
        .select(
            *group_cols, "_n", "n_levels",
            F.round(-p * F.log(p) * F.lit(1_000_000.0))
            .cast("long").alias("_h"),
            F.round(p * F.log(p / q) * F.lit(1_000_000.0))
            .cast("long").alias("_kl"),
        )
    )
    return (
        contrib.groupBy(*group_cols, "_n", "n_levels")
        .agg(
            F.sum("_h").alias("entropy_micro"),
            F.sum("_kl").alias("kl_micro"),
        )
        .select(
            *group_cols,
            F.col("_n").cast("long").alias("n"),
            F.col("n_levels").cast("long").alias("n_levels"),
            "entropy_micro", "kl_micro",
        )
    )


def weighted_median(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Exact per-key (weighted) median — the robust central tendency a
    mean-based rollup can't give when a key's values carry outliers or
    adversarial claims (the numeric companion of truth_discovery:
    weight numeric claims by source reliability and take the weighted
    median instead of a vote). Returns (keys…, n, w_total, median) with
    median = the SMALLEST value whose cumulative weight reaches half
    the total — the standard lower weighted median, deterministic and
    engine-exact via the integer cross-multiply 2·cum ≥ w_total
    (weights must be non-negative integers; pass None for the
    unweighted median where every row weighs 1).

    Tied values are safe despite the ROWS cumulative frame: per-row
    cum depends on the arbitrary order within a tied run, but the
    pick only asks whether ANY row of the run crosses the half-total
    — a property of the run's total weight position, not its internal
    order — so the emitted median is identical on every partitioning
    and in both engines.

    Scale shape: one key-partitioned window pass over the (key, value)
    relation sorted by value (the inherent order-statistic cost — the
    grid sketch family is the approximation that avoids it; this is
    the exact complement for key groups that fit a partition), then
    one per-key min aggregate. A pathologically hot key costs its row
    count in one partition's sort — cap upstream or switch to
    grid_quantile_state when that bound breaks."""
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None else F.lit(1).cast("long")
    )
    base = df.select(
        *key_cols, F.col(value_col).alias("_v"), w.alias("_w")
    )
    win = Window.partitionBy(*key_cols).orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy(*key_cols)
    c = base.select(
        *key_cols, "_v",
        F.sum("_w").over(win).alias("_cum"),
        F.sum("_w").over(wall).alias("_tot"),
        F.count(F.lit(1)).over(wall).alias("_n"),
    )
    return (
        c.groupBy(*key_cols)
        .agg(
            F.max("_n").cast("long").alias("n"),
            F.max("_tot").cast("long").alias("w_total"),
            F.min(
                F.when(
                    F.lit(2) * F.col("_cum") >= F.col("_tot"), F.col("_v")
                )
            ).alias("median"),
        )
    )
