"""Experimentation / causal-inference operators (library lift r8 —
VERDICT r7 item 4): CUPED variance reduction, difference-in-
differences, power analysis, Neyman stratified allocation, and Qini
uplift curves, each over generic DataFrames so any pipeline can call
them directly; the registry queries in ``queries.py`` are thin
wrappers that stage the events table and rename columns.

Shared disciplines (the r7 DECIMAL ladder):

- monetary values quantize to integer **cents** BEFORE any moment
  arithmetic, so sufficient statistics (n, Σc, Σc², Σxy) are exact;
- squared-cents sums ride ``DECIMAL(38,0)`` — a BIGINT Σc² wraps at
  ~9e6 rows of $100 values on Spark while DuckDB promotes to HUGEINT;
- every final estimate is ONE float expression over those integers,
  so a DuckDB oracle replays it bit-equal;
- nothing here materializes more than a taxonomy/decile-bounded
  table after the single full-data aggregate — the 100 TB stage is
  always the first groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphem_rapids_spark.checkpoint import eager_materialize

POWER_MDES = (1, 2, 5)           # minimum detectable effects, % of mean
POWER_Z_A = 1.959963984540054    # z_{0.975} (two-sided alpha 0.05)
POWER_Z_B = 0.8416212335729143   # z_{0.80} (80% power)


def per_user_pre_post(
    events: DataFrame,
    split_days: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """(pre, post, treated) per user — the staging table CUPED and the
    Qini curve share: pre/post period split at ``split_days`` after
    the stream's first day, treatment = the deterministic user-id
    parity coin, values as exact integer cents. This is the only
    stage that sees the full stream."""
    b0 = events.agg(F.date_trunc("day", F.min(ts_col)).alias("d0"))
    return (
        events.crossJoin(F.broadcast(b0))
        .select(
            F.col(user_col).alias("_u"),
            (
                F.datediff(
                    F.col(ts_col).cast("date"), F.col("d0").cast("date")
                )
                < split_days
            ).alias("_is_pre"),
            F.round(F.col(value_col) * 100).cast("long").alias("_c"),
        )
        .groupBy("_u")
        .agg(
            F.sum(F.when(F.col("_is_pre"), F.col("_c")).otherwise(0)).alias(
                "pre"
            ),
            F.sum(F.when(~F.col("_is_pre"), F.col("_c")).otherwise(0)).alias(
                "post"
            ),
        )
        .select("pre", "post", (F.col("_u") % 2 == 1).alias("treated"))
    )


def cuped(
    per_user: DataFrame,
    pre_col: str = "pre",
    post_col: str = "post",
    treated_col: str = "treated",
) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) over a per-unit
    (pre, post, treated) table: θ = cov(pre, post)/var(pre), adjusted
    difference = naive − θ·(pre-period difference), plus ρ² (the
    variance-reduction factor). 1-row output: n_users, naive_diff,
    theta, cuped_diff, rho2 (differences in DOLLARS — inputs are
    cents)."""
    pu = per_user.select(
        F.col(pre_col).alias("pre"),
        F.col(post_col).alias("post"),
        F.col(treated_col).alias("treated"),
    )
    g = pu.groupBy("treated").agg(
        F.count("*").alias("n"),
        F.sum("pre").alias("sp"),
        F.sum("post").alias("so"),
    )
    dpre = F.col("pre").cast("decimal(38,0)")
    dpost = F.col("post").cast("decimal(38,0)")
    pooled = pu.agg(
        F.count("*").alias("n"),
        F.sum("pre").alias("sp"),
        F.sum("post").alias("so"),
        F.sum(dpre * dpre).alias("spp"),
        F.sum(dpost * dpost).alias("soo"),
        F.sum(dpre * dpost).alias("spo"),
    )
    t = g.filter(F.col("treated")).select(
        F.col("n").alias("nt"),
        F.col("sp").alias("spt"),
        F.col("so").alias("sot"),
    )
    c = g.filter(~F.col("treated")).select(
        F.col("n").alias("nc"),
        F.col("sp").alias("spc"),
        F.col("so").alias("soc"),
    )
    j = pooled.crossJoin(F.broadcast(t)).crossJoin(F.broadcast(c))
    dn = F.col("n").cast("decimal(38,0)")
    dsp = F.col("sp").cast("decimal(38,0)")
    dso = F.col("so").cast("decimal(38,0)")
    covnum = dn * F.col("spo") - dsp * dso
    varnum = dn * F.col("spp") - dsp * dsp
    varonum = dn * F.col("soo") - dso * dso
    theta = covnum.cast("double") / varnum.cast("double")
    naive = (
        F.col("sot").cast("double") / F.col("nt")
        - F.col("soc").cast("double") / F.col("nc")
    ) / 100.0
    pre_diff = (
        F.col("spt").cast("double") / F.col("nt")
        - F.col("spc").cast("double") / F.col("nc")
    ) / 100.0
    return j.select(
        F.col("n").alias("n_users"),
        F.round(naive, 6).alias("naive_diff"),
        F.round(theta, 6).alias("theta"),
        F.round(naive - theta * pre_diff, 6).alias("cuped_diff"),
        F.round(
            (covnum.cast("double") / varnum.cast("double"))
            * (covnum.cast("double") / varonum.cast("double")),
            6,
        ).alias("rho2"),
    )


def diff_in_diff(
    obs: DataFrame,
    treated_col: str = "treated",
    post_col: str = "post",
    cents_col: str = "c",
) -> DataFrame:
    """Difference-in-differences over row-level observations
    (treated: bool, post: bool, cents: long): the four cell means,
    DiD = (T2−T1) − (C2−C1), the pooled SE √(Σ s²/n per cell) and the
    t statistic. 1-row output: mean_t1, mean_t2, mean_c1, mean_c2,
    did, se, t_stat (dollars)."""
    cells = (
        obs.select(
            F.col(treated_col).alias("treated"),
            F.col(post_col).alias("post"),
            F.col(cents_col).alias("c"),
        )
        .groupBy("treated", "post")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").alias("s1"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
        )
    )

    def cell(tr, po, name):
        return cells.filter(
            (F.col("treated") == tr) & (F.col("post") == po)
        ).select(
            F.col("n").alias(f"n_{name}"),
            F.col("s1").alias(f"s1_{name}"),
            F.col("s2").alias(f"s2_{name}"),
        )

    j = (
        cell(True, False, "t1")
        .crossJoin(F.broadcast(cell(True, True, "t2")))
        .crossJoin(F.broadcast(cell(False, False, "c1")))
        .crossJoin(F.broadcast(cell(False, True, "c2")))
    )

    def mean(name):
        return F.col(f"s1_{name}").cast("double") / F.col(f"n_{name}") / 100.0

    def var_over_n(name):
        n, s1, s2 = (
            F.col(f"n_{name}"),
            F.col(f"s1_{name}"),
            F.col(f"s2_{name}"),
        )
        return (
            (
                n.cast("decimal(38,0)") * s2
                - s1.cast("decimal(38,0)") * s1.cast("decimal(38,0)")
            ).cast("double")
            / (n * (n - 1)).cast("double")
            / n
            / 10000.0
        )

    did = mean("t2") - mean("t1") - (mean("c2") - mean("c1"))
    se = F.sqrt(
        var_over_n("t1")
        + var_over_n("t2")
        + var_over_n("c1")
        + var_over_n("c2")
    )
    return j.select(
        F.round(mean("t1"), 6).alias("mean_t1"),
        F.round(mean("t2"), 6).alias("mean_t2"),
        F.round(mean("c1"), 6).alias("mean_c1"),
        F.round(mean("c2"), 6).alias("mean_c2"),
        F.round(did, 6).alias("did"),
        F.round(se, 6).alias("se"),
        F.round(did / se, 6).alias("t_stat"),
    )


def power_analysis(
    values: DataFrame,
    cents_col: str = "c",
    mdes: tuple = POWER_MDES,
    z_a: float = POWER_Z_A,
    z_b: float = POWER_Z_B,
) -> DataFrame:
    """Per-arm sample sizes for detecting each MDE (% of the mean) at
    the given z constants: n = ceil(2(z_a+z_b)²σ²/δ²). Output per MDE:
    mde_pct, mean_value, delta, n_per_arm (dollars)."""
    spark = values.sparkSession
    dc = F.col(cents_col).cast("decimal(38,0)")
    st = values.agg(
        F.count("*").alias("n"),
        F.sum(cents_col).alias("s1"),
        F.sum(dc * dc).alias("s2"),
    )
    mrows = spark.range(1).select(
        F.explode(F.array(*[F.lit(int(k)).cast("long") for k in mdes])).alias(
            "mde_pct"
        )
    )
    j = st.crossJoin(mrows)
    mean = F.col("s1").cast("double") / F.col("n") / 100.0
    var = (
        (
            F.col("n").cast("decimal(38,0)") * F.col("s2")
            - F.col("s1").cast("decimal(38,0)")
            * F.col("s1").cast("decimal(38,0)")
        ).cast("double")
        / (F.col("n") * (F.col("n") - 1)).cast("double")
        / 10000.0
    )
    delta = mean * F.col("mde_pct").cast("double") / 100.0
    zsum = F.lit(z_a + z_b)
    n_arm = F.ceil(F.lit(2.0) * zsum * zsum * var / (delta * delta))
    return j.select(
        "mde_pct",
        F.round(mean, 6).alias("mean_value"),
        F.round(delta, 6).alias("delta"),
        n_arm.cast("long").alias("n_per_arm"),
    ).orderBy("mde_pct")


def neyman_allocation(
    obs: DataFrame,
    stratum_col: str = "event_type",
    cents_col: str = "c",
    budget: int = 1000,
) -> DataFrame:
    """Neyman (optimal) stratified-sample allocation n_h ∝ N_h·σ_h
    with exact largest-remainder apportionment (Σ alloc = budget
    exactly; remainders ranked by a taxonomy-bounded self-join count,
    never a window). Output per stratum: <stratum_col>, n_events, sd,
    w6 (the 1e6 fixed-point weight), alloc."""
    st = (
        obs.select(F.col(stratum_col).alias("_s"), F.col(cents_col).alias("c"))
        .groupBy("_s")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").alias("s1"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
        )
    )
    sd = (
        F.sqrt(
            (
                F.col("n").cast("decimal(38,0)") * F.col("s2")
                - F.col("s1").cast("decimal(38,0)")
                * F.col("s1").cast("decimal(38,0)")
            ).cast("double")
            / (F.col("n") * (F.col("n") - 1)).cast("double")
        )
        / 100.0
    )
    ws = st.select(
        "_s",
        "n",
        F.round(sd, 6).alias("sd"),
        F.round(F.col("n") * sd * 1e6).cast("long").alias("w6"),
    )
    tot = ws.agg(F.sum("w6").alias("wt"))
    base = ws.crossJoin(F.broadcast(tot)).select(
        "_s",
        "n",
        "sd",
        "w6",
        F.expr(f"{int(budget)} * w6 div wt").alias("base"),
        F.expr(f"{int(budget)} * w6 % wt").alias("rem"),
    )
    left = base.agg((F.lit(int(budget)) - F.sum("base")).alias("leftover"))
    a = base.select("_s", F.col("rem").alias("ra"))
    b = base.select(F.col("_s").alias("tb"), F.col("rem").alias("rb"))
    rank = (
        a.join(
            b,
            (F.col("rb") > F.col("ra"))
            | ((F.col("rb") == F.col("ra")) & (F.col("tb") < F.col("_s"))),
            "left",
        )
        .groupBy("_s")
        .agg(F.count("tb").alias("n_ahead"))
    )
    return (
        base.join(F.broadcast(rank), "_s")
        .crossJoin(F.broadcast(left))
        .select(
            F.col("_s").alias(stratum_col),
            F.col("n").alias("n_events"),
            "sd",
            "w6",
            (
                F.col("base")
                + (F.col("n_ahead") < F.col("leftover")).cast("long")
            ).alias("alloc"),
        )
        .orderBy(stratum_col)
    )


def uplift_qini(
    per_user: DataFrame,
    score_col: str = "pre",
    outcome_col: str = "post",
    treated_col: str = "treated",
    n_buckets: int = 10,
) -> DataFrame:
    """Qini uplift curve (Radcliffe 2007) over a per-unit (score,
    outcome-cents, treated) table: rank units by score desc into
    ``n_buckets`` deciles via EXACT strictly-above counts on the
    per-SCORE-VALUE table (value-domain-bounded window — never a
    global ntile over users), then per decile the incremental
    response per treated unit and cumulative
    q(k) = R_t(k) − R_c(k)·N_t(k)/N_c(k). Output per decile: decile,
    n_treated, n_control, uplift, qini (dollars)."""
    pu = per_user.select(
        F.col(score_col).alias("_score"),
        F.col(outcome_col).alias("_out"),
        F.col(treated_col).alias("treated"),
    )
    n_units = pu.count()
    per_v = pu.groupBy("_score").agg(F.count("*").alias("cnt"))
    wv = Window.orderBy(F.col("_score").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # bounded (#distinct score values); materialize so the window
    # runs exactly once rather than once per plan branch
    above = eager_materialize(per_v.select(
        "_score", F.coalesce(F.sum("cnt").over(wv), F.lit(0)).alias("above")
    ))
    dec = pu.join(F.broadcast(above), "_score").select(
        "treated",
        "_out",
        F.least(
            F.lit(n_buckets - 1), F.expr(f"{n_buckets} * above div {n_units}")
        ).alias("decile"),
    )
    # n_buckets rows; both sides of the triangle join read it —
    # materialize once or the whole user-aggregate + score-window
    # lineage re-evaluates per side
    per_d = (
        dec.groupBy("decile")
        .agg(
            F.sum(F.col("treated").cast("long")).alias("nt"),
            F.sum((~F.col("treated")).cast("long")).alias("nc"),
            F.sum(F.when(F.col("treated"), F.col("_out")).otherwise(0)).alias(
                "st"
            ),
            F.sum(
                F.when(~F.col("treated"), F.col("_out")).otherwise(0)
            ).alias("sc"),
        )
        .transform(eager_materialize)
    )
    a = per_d.alias("a")
    b = per_d.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.decile") <= F.col("a.decile"))
        .groupBy(
            F.col("a.decile").alias("decile"),
            F.col("a.nt").alias("nt"),
            F.col("a.nc").alias("nc"),
            F.col("a.st").alias("st"),
            F.col("a.sc").alias("sc"),
        )
        .agg(
            F.sum("b.nt").alias("cnt"),
            F.sum("b.nc").alias("cnc"),
            F.sum("b.st").alias("cst"),
            F.sum("b.sc").alias("csc"),
        )
    )
    uplift = F.when(
        (F.col("nt") > 0) & (F.col("nc") > 0),
        F.round(
            (
                F.col("st").cast("double") / F.col("nt")
                - F.col("sc").cast("double") / F.col("nc")
            )
            / 100.0,
            6,
        ),
    ).otherwise(F.lit(0.0))
    qini = F.when(
        F.col("cnc") > 0,
        F.round(
            (
                F.col("cst").cast("double")
                - F.col("csc").cast("double")
                * F.col("cnt").cast("double")
                / F.col("cnc")
            )
            / 100.0,
            6,
        ),
    ).otherwise(F.lit(0.0))
    return cum.select(
        "decile",
        F.col("nt").alias("n_treated"),
        F.col("nc").alias("n_control"),
        uplift.alias("uplift"),
        qini.alias("qini"),
    ).orderBy("decile")


SRM_CHI2_CRIT = 3.841458820694124  # chi-square df=1, alpha = 0.05


def srm_check(
    assignments: DataFrame,
    treated_col: str = "treated",
) -> DataFrame:
    """Sample-ratio-mismatch guardrail — the FIRST check an
    experimentation platform runs on a readout (Fabijan et al. 2019):
    chi-square test of the realized assignment counts against the
    designed 50/50 split. With two arms and equal expectation the
    statistic collapses to (n_t − n_c)²/n — an exact integer
    numerator over one division. 1-row output: n_units, n_control,
    n_treated, chi2, srm_flag (1 = the split is broken at
    alpha = 0.05; analyze nothing downstream until triaged)."""
    g = assignments.agg(
        F.count("*").alias("n"),
        F.sum(F.col(treated_col).cast("long")).alias("nt"),
    )
    diff = F.col("nt") * 2 - F.col("n")  # n_t − n_c, exact
    chi2 = (diff * diff).cast("double") / F.col("n").cast("double")
    return g.select(
        F.col("n").alias("n_units"),
        (F.col("n") - F.col("nt")).cast("long").alias("n_control"),
        F.col("nt").cast("long").alias("n_treated"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > SRM_CHI2_CRIT).cast("long").alias("srm_flag"),
    )


def msprt_trajectory(
    daily: DataFrame,
    day_col: str = "d",
    treated_col: str = "treated",
    n_col: str = "n",
    s1_col: str = "s1",
    s2_col: str = "s2",
    tau_dollars: float = 5.0,
) -> DataFrame:
    """Always-valid sequential inference — the mixture SPRT (Johari et
    al. 2017's always-valid p-values, the 'when could we have
    stopped?' readout peeking-safe A/B platforms publish): per
    calendar day, the two-sample mean test's mixture likelihood ratio
    Λ_n under a N(0, τ²) prior on the effect, and the running
    always-valid p-value p_d = min_{d' ≤ d} min(1, 1/Λ_{d'}).

    Input: per-(day, arm) daily sufficient statistics (n, Σcents,
    Σcents² — the s2 column must already ride DECIMAL(38,0)).
    Everything cumulative comes from DAY-TRIANGLE joins over the
    calendar-bounded daily table (≤ days² rows — never a window, the
    retention-eligibility pattern), so the full-stream work is the
    one daily aggregate the caller does. Per day, pooled s², the
    standard error, δ̂ and log Λ are ONE identical float expression
    over exact integers; the running min is over identical doubles.
    Output per day: d, n_treated, n_control, diff_dollars,
    log_lambda, p_always_valid."""
    t2 = float(tau_dollars) * float(tau_dollars)
    arms = daily.select(
        F.col(day_col).alias("d"),
        F.col(treated_col).alias("tr"),
        F.col(n_col).alias("n"),
        F.col(s1_col).alias("s1"),
        F.col(s2_col).cast("decimal(38,0)").alias("s2"),
    )
    days = arms.select("d").distinct()
    # cumulative per-arm sufficient statistics via the day triangle
    cum = (
        days.alias("dd")
        .join(arms.alias("a"), F.col("a.d") <= F.col("dd.d"))
        .groupBy(F.col("dd.d").alias("d"), F.col("a.tr").alias("tr"))
        .agg(
            F.sum("a.n").alias("n"),
            F.sum("a.s1").alias("s1"),
            F.sum("a.s2").alias("s2"),
        )
    )
    t = cum.filter(F.col("tr")).select(
        "d",
        F.col("n").alias("nt"),
        F.col("s1").alias("st"),
        F.col("s2").alias("stt"),
    )
    c = cum.filter(~F.col("tr")).select(
        "d",
        F.col("n").alias("nc"),
        F.col("s1").alias("sc"),
        F.col("s2").alias("scc"),
    )
    j = t.join(c, "d")
    dnt = F.col("nt").cast("decimal(38,0)")
    dnc = F.col("nc").cast("decimal(38,0)")
    dst = F.col("st").cast("decimal(38,0)")
    dsc = F.col("sc").cast("decimal(38,0)")
    # per-arm centered sums of squares: exact integer numerators, one
    # double division each (cents² → dollars² via /1e4 at the end)
    ssq_t = (dnt * F.col("stt") - dst * dst).cast("double") / F.col("nt")
    ssq_c = (dnc * F.col("scc") - dsc * dsc).cast("double") / F.col("nc")
    s2p = (ssq_t + ssq_c) / (F.col("nt") + F.col("nc") - 2) / 10000.0
    se2 = s2p * (
        1.0 / F.col("nt").cast("double") + 1.0 / F.col("nc").cast("double")
    )
    delta = (
        F.col("st").cast("double") / F.col("nt")
        - F.col("sc").cast("double") / F.col("nc")
    ) / 100.0
    loglam = F.lit(0.5) * F.log(se2 / (se2 + F.lit(t2))) + (
        delta * delta * F.lit(t2)
    ) / (F.lit(2.0) * se2 * (se2 + F.lit(t2)))
    ok = (F.col("nt") > 1) & (F.col("nc") > 1) & (se2 > 0)
    per_day = j.select(
        "d",
        "nt",
        "nc",
        F.round(delta, 6).alias("diff_dollars"),
        F.when(ok, loglam).otherwise(F.lit(0.0)).alias("_ll"),
    ).transform(eager_materialize)  # bounded: one row per calendar day
    pd_ = F.least(F.lit(1.0), F.exp(-F.col("_ll")))
    scored = per_day.select("d", "nt", "nc", "diff_dollars", "_ll", pd_.alias("_p"))
    runmin = (
        scored.alias("x")
        .join(
            scored.select(F.col("d").alias("d2"), F.col("_p").alias("p2")),
            F.col("d2") <= F.col("d"),
        )
        .groupBy("d", "nt", "nc", "diff_dollars", "_ll")
        .agg(F.min("p2").alias("_pmin"))
    )
    return runmin.select(
        "d",
        F.col("nt").cast("long").alias("n_treated"),
        F.col("nc").cast("long").alias("n_control"),
        "diff_dollars",
        F.round(F.col("_ll"), 6).alias("log_lambda"),
        F.round(F.col("_pmin"), 6).alias("p_always_valid"),
    ).orderBy("d")
