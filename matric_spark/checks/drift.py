"""Distribution-drift checks between partition cohorts: KS, PSI, EMD and
entropy over one shared counts sketch.

Reference lineage: matric's core analytic move is comparing a signal
cohort's distribution against a background cohort per group — z-scaling
vs background stats (R/sim_metrics.R:391-411) and the relrank empirical-
CDF percentile (R/sim_metrics.R:413-428,623-625). KS is exactly the
max-gap between two such ECDFs; PSI is its histogram-sketch counterpart.
Significance follows matric's p-value machinery (R/sim_metrics_signif.R)
with an analytic (asymptotic Smirnov) null instead of permutation — the
permutation null lives in operators/sim_metrics_signif.py.

Cohort design: each partition is the *signal* cohort, all other
partitions are its *background* — per-partition drift verdicts fall out
directly, matching the collate `type` = signal|background discriminator
(R/sim_collate.R:480-504).

Scale notes (the whole point): drift is computed on AGGREGATES ONLY.
``counts_sketch`` is the one table scan: a groupBy(partition, value)
that reduces 10^12 rows to |parts| x |distinct values| counts. Every
statistic here takes that (p, v, c) sketch as its only input, so callers
build (or materialize) it once and fan out without rescanning. ECDFs for
the complement cohort come from (total - partition) arithmetic over ONE
value grid (``_cdf_grid``: the full partition x value product, a cross
join of two tiny aggregates). KS and PSI both come out of
``drift_by_partition``, which aggregates that grid to PSI buckets —
per-bucket count sums plus the max ECDF gap — so the two statistics
share one grid and one relation. Value cardinality is bounded by
bucketing (PSI) or naturally small domains (text length); for unbounded
domains sketch a bucketized value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

KS_TERMS = 3  # Smirnov series terms in the asymptotic KS p-value
PSI_BUCKET_WIDTH = 50.0
PSI_BUCKETS = 20  # values past the last bucket's lower edge share it
PSI_EPS = 0.5  # add-eps smoothing keeps empty buckets finite


def counts_sketch(df: DataFrame, partition_col: str, value: Column) -> DataFrame:
    """The shared (p, v, c) sketch every drift/entropy statistic
    consumes: one scan, counts per (partition, value), nulls excluded.
    Compute it once (or materialize it) and fan out to
    ks/psi/emd/entropy without rescanning the table."""
    return (
        df.select(F.col(partition_col).alias("p"), value.alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("p", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _cdf_grid(cnt: DataFrame) -> DataFrame:
    """Shared ECDF scaffolding for the two-cohort statistics (KS, PSI,
    EMD): from the (p, v, c) sketch, the full partition × value grid with
    running counts → (p, np, n_total, v, c, ct, cum_c, cum_t, next_v).
    c/ct are the partition's and the whole table's count at v (c is 0
    where the partition lacks v); cum_c/np is the partition's ECDF at v;
    (cum_t-cum_c)/(n_total-np) the complement's; next_v the following
    grid point (NULL at the end). Aggregates only — every relation here
    is tiny."""
    parts = cnt.groupBy("p").agg(F.sum("c").alias("np"))
    tot = cnt.groupBy("v").agg(F.sum("c").alias("ct"))
    n_total = parts.agg(F.sum("np").alias("n_total"))

    grid = parts.crossJoin(tot.select("v"))
    j = (
        grid.join(cnt, on=["p", "v"], how="left")
        .fillna(0, subset=["c"])
        .join(tot, on="v")
        .crossJoin(F.broadcast(n_total))
    )
    w = Window.partitionBy("p").orderBy("v")
    return j.select(
        "p",
        "np",
        "n_total",
        "v",
        "c",
        "ct",
        F.sum("c").over(w).alias("cum_c"),
        F.sum("ct").over(w).alias("cum_t"),
        F.lead("v").over(w).alias("next_v"),
    )


def _complement_gap() -> Column:
    """|ECDF_part − ECDF_rest| at the current grid row, NULL when the
    complement cohort is empty (single-partition input) — an INTEGER
    guard, so it can never disagree with an oracle, and it keeps ANSI
    mode from raising DIVIDE_BY_ZERO."""
    return F.when(
        F.col("np") < F.col("n_total"),
        F.abs(
            F.col("cum_c") / F.col("np")
            - (F.col("cum_t") - F.col("cum_c"))
            / (F.col("n_total") - F.col("np"))
        ),
    )


def drift_by_partition(sketch: DataFrame, partition_col: str) -> DataFrame:
    """KS max-gap and PSI of each partition vs its complement, both from
    the one ``_cdf_grid`` value grid → (partition_col, n_part, n_rest,
    ks_d, psi).

    The grid rows aggregate to PSI buckets: per (p, bucket) the sums of
    c/ct and the max ECDF gap. ks_d is the max of the bucket maxima.
    n_b (observed bucket count) is a count window over p — exact because
    the grid is the full partitions × values product, so every partition
    carries every observed bucket.

    psi = sum_b (pa_b - pb_b) * ln(pa_b / pb_b)
    pa = (c_part + eps) / (n_part + eps * n_b), bucket = min(floor(v /
    PSI_BUCKET_WIDTH), PSI_BUCKETS - 1). Bucketing happens on the sketch,
    i.e. AFTER its null filter — bucketing the raw value directly would
    misroute nulls because Spark's ``least`` ignores null arguments
    (least(NULL, 19) = 19). Degenerate inputs (a single partition — no
    complement) yield NULL ks_d.
    """
    b = F.least(
        F.floor(F.col("v") / F.lit(PSI_BUCKET_WIDTH)), F.lit(PSI_BUCKETS - 1)
    )
    buckets = (
        _cdf_grid(sketch)
        .groupBy("p", "np", "n_total", b.alias("b"))
        .agg(
            F.sum("c").alias("c"),
            F.sum("ct").alias("ct"),
            F.max(_complement_gap()).alias("gap"),
        )
        .withColumn("n_b", F.count(F.lit(1)).over(Window.partitionBy("p")))
    )
    eps = F.lit(PSI_EPS)
    nb = F.col("n_total") - F.col("np")
    pa = (F.col("c") + eps) / (F.col("np") + eps * F.col("n_b"))
    pb = (F.col("ct") - F.col("c") + eps) / (nb + eps * F.col("n_b"))
    return buckets.groupBy("p", "np", "n_total").agg(
        F.max("gap").alias("ks_d"),
        F.sum((pa - pb) * F.log(pa / pb)).alias("psi"),
    ).select(
        F.col("p").alias(partition_col),
        F.col("np").alias("n_part"),
        (F.col("n_total") - F.col("np")).alias("n_rest"),
        "ks_d",
        "psi",
    )


def ks_by_partition(sketch: DataFrame, partition_col: str) -> DataFrame:
    """Two-sample KS statistic of each partition vs its complement.

    Output: (partition_col, n_part, n_rest, ks_d, ks_p) where ks_p is the
    asymptotic two-sided Smirnov p-value (first KS_TERMS series terms,
    lambda = sqrt(ne)*D, ne = n1*n2/(n1+n2)), clamped to [0, 1].
    Degenerate inputs (a single partition — no complement) yield NULL
    ks_d/ks_p.
    """
    ks = drift_by_partition(sketch, partition_col)
    ne = F.col("n_part") * F.col("n_rest") / (F.col("n_part") + F.col("n_rest"))
    lam2 = ne * F.col("ks_d") * F.col("ks_d")
    series = None
    for k in range(1, KS_TERMS + 1):
        term = F.lit(float((-1) ** (k - 1))) * F.exp(F.lit(-2.0 * k * k) * lam2)
        series = term if series is None else series + term
    # explicit NULL gate: greatest/least IGNORE null args in Spark, so a
    # NULL ks_d would otherwise surface as ks_p = 0.0
    p = F.when(
        F.col("ks_d").isNotNull(),
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.lit(2.0) * series)),
    )
    return ks.select(partition_col, "n_part", "n_rest", "ks_d", p.alias("ks_p"))


def psi_by_partition(sketch: DataFrame, partition_col: str) -> DataFrame:
    """Population Stability Index of each partition vs its complement
    (see ``drift_by_partition``) → (partition_col, n_part, psi)."""
    return drift_by_partition(sketch, partition_col).select(
        partition_col, "n_part", "psi"
    )


def emd_by_partition(sketch: DataFrame, partition_col: str) -> DataFrame:
    """Earth-mover (Wasserstein-1) distance of each partition's value
    distribution vs its complement, over the observed value grid:

        W1 = sum_i |F_part(v_i) - F_rest(v_i)| * (v_{i+1} - v_i)

    — the integral counterpart of KS's max gap: KS fires on ANY shape
    change however thin, EMD weighs how much mass moved how far (in
    value units), so the two together separate "a spike appeared" from
    "the whole distribution shifted". Same aggregates-only shape as
    ks_by_partition (same (p, v, c) sketch, same _cdf_grid); output
    (partition_col, n_part, n_rest, emd), NULL emd for degenerate
    (single-partition) inputs.
    """
    cum = _cdf_grid(sketch)
    # the last grid point has no width (lead is NULL) → contributes 0;
    # a NULL gap (empty complement) nulls the whole sum via plain `+`
    area = F.coalesce(
        _complement_gap() * (F.col("next_v") - F.col("v")).cast("double"),
        F.when(F.col("np") < F.col("n_total"), F.lit(0.0)),
    )
    return (
        cum.groupBy("p")
        .agg(
            F.first("np").alias("n_part"),
            (F.first("n_total") - F.first("np")).alias("n_rest"),
            F.sum(area).alias("emd"),
        )
        .select(F.col("p").alias(partition_col), "n_part", "n_rest", "emd")
    )


def entropy_by_partition(sketch: DataFrame, partition_col: str) -> DataFrame:
    """Shannon entropy (nats) of the value distribution within each
    partition → (partition_col, n_part, n_values, entropy). A collapsing
    domain (template takeover, a stuck producer) shows up as an entropy
    drop before any referential or drift check fires. Aggregates only:
    the (p, v, c) sketch is the sole input."""
    parts = sketch.groupBy("p").agg(
        F.sum("c").alias("np"), F.count(F.lit(1)).alias("n_values")
    )
    j = sketch.join(parts, "p")
    frac = F.col("c") / F.col("np")
    return (
        j.groupBy("p")
        .agg(
            F.first("np").alias("n_part"),
            F.first("n_values").alias("n_values"),
            (-F.sum(frac * F.log(frac))).alias("entropy"),
        )
        .select(F.col("p").alias(partition_col), "n_part", "n_values", "entropy")
    )
