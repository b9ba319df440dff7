"""Deterministic sampling, stratification, and train/val/test splitting.

Training-data pipelines need sampling that is (a) reproducible across
runs and engines — no ``rand()`` — and (b) stable under repartitioning:
membership must be a pure function of the row key. The uniform variate
here is md5-derived (first 8 hex digits / 2^32), identical in any engine,
so every operator is DuckDB-oracle-checkable and a re-run (or a different
cluster) selects the exact same rows.

Scale shape: all of it is a map-side filter/projection — zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import rnd

_TWO32 = 4294967296.0


def hash_uniform(key: Column, salt: str = "") -> Column:
    """Deterministic U[0,1) from a key column (md5 counter-free variant)."""
    h = F.md5(F.concat(F.lit(salt), F.lit(":"), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") / F.lit(_TWO32)


def hash_uniform_sql(key: str, salt: str = "") -> str:
    """The same variate as a DuckDB SQL fragment (oracle side)."""
    return (
        f"CAST('0x' || substr(md5('{salt}' || ':' || CAST({key} AS VARCHAR)), 1, 8) "
        f"AS BIGINT) / {_TWO32}"
    )


def bernoulli_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = "sample"
) -> DataFrame:
    """Keep ~fraction of rows, membership a pure function of the key."""
    return df.filter(hash_uniform(F.col(key_col), salt) < fraction)


def stratified_sample(
    df: DataFrame, strata_col: str, key_col: str,
    fractions: dict[str, float], default: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum sampling rates (data mixing): e.g. keep 100% of wiki,
    10% of web crawl. Unlisted strata get ``default``."""
    rate = F.lit(default)
    for stratum, f_ in fractions.items():
        rate = F.when(F.col(strata_col) == stratum, F.lit(f_)).otherwise(rate)
    return df.filter(hash_uniform(F.col(key_col), salt) < rate)


def temperature_resample(
    df: DataFrame, group_col: str, key_col: str,
    alpha: float = 0.3, salt: str = "temp",
) -> DataFrame:
    """Temperature-based mixture resampling (the mT5/multilingual
    alpha-sampling rule): a group with corpus share p_s = n_s/N is
    resampled toward target share q_s ∝ p_s^alpha (alpha < 1 flattens the
    mixture — rare sources UP-sample, dominant ones down-sample), keeping
    the total corpus size ≈ N. Every document gets a DETERMINISTIC repeat
    count: rate_s = q_s·N/n_s expected copies, realized as
    floor(rate_s) + (hash_uniform(key) < frac(rate_s)) — so the op is
    reproducible, engine-replayable, and a rare-source doc can appear
    MULTIPLE times (the epochs-per-source behavior trainers actually
    use). Returns one output row per copy with ``copy_idx`` (1-based).

    Cross-engine determinism: rate_s mixes ``pow`` and a tiny cross-group
    sum whose summation order is not contractual, so it is rounded at
    9 dp (the repo's comparison rule) before floor/threshold use; the
    hash variate is an exact dyadic rational.

    A NULL group key is a real group: ``groupBy`` counts it into
    ``__total``/``__z``, so the rate join-back must be NULL-SAFE
    (``eqNullSafe`` here, ``IS NOT DISTINCT FROM`` in the oracle) — a
    plain equi-join would silently drop null-source docs while their
    count still inflated the normalizer, undershooting the realized
    total (round-5 advisory).

    Scale shape: one partial-aggregating count per group (output rows =
    |groups|, tiny), the per-group rate broadcast-joined back, and a
    map-side sequence() explode bounded by ceil(max rate) — no shuffle
    of the corpus beyond the one broadcast hash join, at any size."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    tot = counts.agg(
        F.sum("__n").cast("double").alias("__total"),
        F.sum(F.pow(F.col("__n").cast("double"), F.lit(alpha))).alias("__z"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        F.col(group_col).alias("__g"),
        rnd(
            F.pow(F.col("__n").cast("double"), F.lit(alpha))
            / F.col("__z") * F.col("__total") / F.col("__n").cast("double"),
            9,
        ).alias("__rate"),
    )
    j = df.join(
        F.broadcast(rates), F.col(group_col).eqNullSafe(F.col("__g"))
    ).drop("__g")
    u = hash_uniform(F.col(key_col), salt)
    copies = (
        F.floor(F.col("__rate"))
        + F.when(u < rnd(F.col("__rate") - F.floor(F.col("__rate")), 9), 1)
        .otherwise(0)
    ).cast("long")
    return (
        j.withColumn("__copies", copies)
        .filter(F.col("__copies") >= 1)
        .withColumn(
            "copy_idx",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("__copies"))),
        )
        .drop("__rate", "__copies")
        .select(*df.columns, "copy_idx")
    )


def exact_stratified_split(
    df: DataFrame,
    strata_cols: list[str],
    key_col: str,
    test: tuple[int, int] = (1, 10),
    val: tuple[int, int] = (1, 10),
    salt: str = "xsplit",
) -> DataFrame:
    """EXACT per-stratum train/val/test split: within each stratum the
    rows are ordered by the deterministic md5 variate (key tie-break)
    and the first ceil(n·test) go to 'test', the next ceil(n·val) to
    'val', the rest to 'train'. Unlike :func:`split_column`'s
    hash-proportional split, every stratum hits its quota exactly —
    the variant you need when strata are small (rare languages, scarce
    sources) and O(1/√n) hash drift would starve the eval sets.

    Fractions are (numerator, denominator) int pairs; the quota
    arithmetic is pure integer ceil on both engines, so no float
    rounding can disagree across engines.

    Scale shape: one shuffle on the strata key, then a within-stratum
    window sort. A stratum's rows sort on a single partition, so this
    is the SMALL-STRATA tool by construction — for web-scale strata
    (say lang='en' at 10^10 docs) use ``split_column``: at that size
    hash drift is ~1e-5 and the exact quota buys nothing for the cost
    of sorting the stratum."""
    from pyspark.sql import Window

    (tn, td), (vn, vd) = test, val
    u = hash_uniform(F.col(key_col), salt)
    order_w = Window.partitionBy(*strata_cols).orderBy(
        u.asc(), F.col(key_col).asc()
    )
    count_w = Window.partitionBy(*strata_cols)
    rn = F.row_number().over(order_w)
    n = F.count(F.lit(1)).over(count_w)
    # integer ceil(n*num/den); operands stay < 2^53 so the double
    # division is exact-then-truncated identically in any engine
    n_test = ((n * F.lit(tn) + F.lit(td - 1)) / F.lit(td)).cast("long")
    n_val = ((n * F.lit(vn) + F.lit(vd - 1)) / F.lit(vd)).cast("long")
    return df.withColumn(
        "split",
        F.when(rn <= n_test, F.lit("test"))
        .when(rn <= n_test + n_val, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def split_column(
    key: Column, val_frac: float = 0.05, test_frac: float = 0.05,
    salt: str = "split",
) -> Column:
    """'train' / 'val' / 'test' label, disjoint and exhaustive, stable
    under any repartitioning or re-run."""
    u = hash_uniform(key, salt)
    return (
        F.when(u < test_frac, F.lit("test"))
        .when(u < test_frac + val_frac, F.lit("val"))
        .otherwise(F.lit("train"))
    )


def weighted_sample_without_replacement(
    df: DataFrame, group_col: str, key_col: str, weight_col: str,
    k: int, salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k per group
    (Efraimidis–Spirakis 2006, the A-ES scheme — public method): each
    row draws u ~ U(0,1] from its key and ranks by u^(1/w); the top-k
    per group is a weighted sample without replacement, inclusion
    probability proportional to weight within the draw sequence. The
    mixture-building tool keep/drop Bernoulli mixing can't express:
    "exactly k docs per source, longer/higher-quality docs
    proportionally more likely".

    Determinism & cross-engine parity: u is the md5 variate shifted to
    (0, 1] — (h + 1) / 2^32, never 0, so ln(u) is finite — and the rank
    key is ln(u)/w (monotone in u^(1/w) for w > 0, so the SAME sample,
    but engine-exact-friendly), 9-dp-rounded before ordering with
    key-asc tie-break: the ranking an oracle replays bit-for-bit.
    Rows with NULL or non-positive weight are excluded (documented, both
    engines).

    Scale shape: one map-side projection + one per-group top-k window —
    the single shuffle any per-group ranking needs, state k per group.
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.lit(":"),
                           F.col(key_col).cast("string"))), 1, 8
        ), 16, 10,
    ).cast("bigint")
    u = (h + 1) / F.lit(_TWO32)
    rank_key = rnd(F.log(u) / F.col(weight_col).cast("double"), 9)
    w = Window.partitionBy(group_col).orderBy(
        F.desc(rank_key), F.asc(key_col)
    )
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__wr", F.row_number().over(w))
        .filter(F.col("__wr") <= k)
        .withColumnRenamed("__wr", "sample_rank")
    )


def global_hash_order(
    df: DataFrame, key_col: str, salt: str = "shuffle",
    n_buckets: int = 64,
) -> DataFrame:
    """Deterministic global shuffle order WITHOUT a global window.

    Trainers need every epoch's example order to be (a) uniformly
    shuffled and (b) reproducible — at 100 TB that is "sort the corpus
    by hash(key)", and the naive position assignment
    ``row_number() OVER (ORDER BY hash)`` collapses the whole corpus
    into ONE window partition: the canonical global-window scale-killer.

    This computes the identical positions in two levels:

    - bucket   = top bits of the 32-bit md5 hash (``h >> shift``) — a
      RANGE of the sort key, so per-bucket orders concatenate into the
      global order;
    - rank     = row_number per bucket (parallel windows, each holding
      ~1/n_buckets of the data);
    - offset   = cumulative bucket sizes — an n_buckets-row aggregate,
      windowed on the driver-sized side and broadcast back;
    - position = offset + rank, exactly ``row_number() OVER (ORDER BY
      h, key)`` — which is what the oracle replays.

    Shuffle inventory: one exchange on bucket (uniform by construction —
    md5 top bits), one tiny n_buckets-row aggregate, one broadcast join.
    Nothing scales superlinearly; no partition ever holds more than the
    bucket's ~N/n_buckets rows. Returns (df.*, position) with position
    1-based and globally dense.
    """
    if n_buckets < 1 or n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets={n_buckets} must be a power of two")
    shift = 32 - n_buckets.bit_length() + 1
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.lit(":"),
                           F.col(key_col).cast("string"))), 1, 8
        ), 16, 10,
    ).cast("bigint")
    keyed = df.withColumn("__h", h).withColumn(
        "__bucket", F.shiftright(F.col("__h"), shift)
    )
    wb = Window.partitionBy("__bucket").orderBy(
        F.asc("__h"), F.asc(key_col)
    )
    ranked = keyed.withColumn("__rank", F.row_number().over(wb))
    sizes = keyed.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__n"))
    wo = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = sizes.select(
        "__bucket",
        F.coalesce(F.sum("__n").over(wo), F.lit(0)).alias("__offset"),
    )
    return (
        ranked.join(F.broadcast(offsets), "__bucket")
        .withColumn(
            "position", (F.col("__offset") + F.col("__rank")).cast("long")
        )
        .drop("__h", "__bucket", "__rank", "__offset")
    )


def leakage_free_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    val_frac: float = 0.05,
    test_frac: float = 0.05,
    salt: str = "cluster_split",
    candidates: str = "naive",
    n_hashes: int = 64,
    band_size: int = 2,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Train/val/test assignment by NEAR-DUP CLUSTER, so two documents
    with shingle Jaccard >= ``threshold`` can never straddle a split
    boundary (the eval-contamination failure mode of a plain
    hash-of-doc_id split). Cluster = connected components over the
    pair graph; split membership = the md5 variate of the cluster
    representative (deterministic, engine-replayable).

    ``candidates`` selects the pair-generation strategy (a purely
    physical switch):

    - ``"naive"``: :func:`~..operators.dedup.jaccard_pairs` — the
      shared-shingle self-join, EXACT over capped shingles. Quadratic
      inside each shingle bucket; right at reference scale, where the
      stop-shingle cap bounds the worst bucket.
    - ``"banded"``: :func:`~..operators.dedup.minhash_lsh_pairs` in a
      HIGH-RECALL configuration (default 32 bands of ``band_size=2``)
      with the same exact-Jaccard verification on the candidates.
      Candidate cost is docs x n_hashes banding rows instead of
      df-per-shingle squared — the 100 TB path. Recall is probabilistic
      but engineered: a true pair at Jaccard j >= threshold is missed
      only if every band differs, p = (1 - j^band_size)^(n_hashes /
      band_size) = (1-0.36)^32 ~ 6.5e-7 at the 0.6 default — and the
      hashing is md5-deterministic, so a given corpus either has full
      recall or not, checkably (the catalog's banded entry shares the
      naive entry's exact oracle verbatim: a hash match PROVES full
      recall on that corpus, the d10-shares-d7 proof shape).
      Band width is the precision lever: ``band_size=1`` (any shared
      minhash slot) was measured generating 620x more candidates than
      true pairs at sf0.1 (158,896 vs 256 — every background-similarity
      pair has ~16j odds of a slot collision) and ran 3x SLOWER than
      the naive path at the 10x dir; (64, 2) cuts that to 3,558
      candidates while keeping the miss bound above.

    ``max_shingle_df`` must agree between the two paths for the
    verified Jaccard values to be identical (both default to the
    caller's choice; the catalog passes the d2 cap).
    """
    from .dedup import jaccard_pairs, minhash_lsh_pairs
    from .graph import connected_components

    if candidates == "naive":
        pairs = jaccard_pairs(
            df, id_col, text_col, n=n, threshold=threshold,
            max_shingle_df=max_shingle_df,
        )
    elif candidates == "banded":
        pairs = minhash_lsh_pairs(
            df, id_col, text_col, n=n, threshold=threshold,
            n_hashes=n_hashes, band_size=band_size,
            max_shingle_df=max_shingle_df,
        )
    else:
        raise ValueError(
            f"candidates must be 'naive' or 'banded', got {candidates!r}"
        )
    comp = connected_components(
        df.select(F.col(id_col).alias("doc_id")), pairs,
        vertex_col="doc_id", src_col="doc_a", dst_col="doc_b",
    )
    return comp.select(
        "doc_id",
        "component",
        split_column(
            F.col("component"), val_frac=val_frac, test_frac=test_frac,
            salt=salt,
        ).alias("split"),
    )
