"""Training-data pipeline operators (SURVEY §2 group P).

The corpus-management layer a 100 TB training pipeline needs around
the core dedup/similarity ops: deterministic splits and samples
(md5-keyed, so re-runs and engines agree — never `rand()`, which is
neither reproducible nor oracle-able), PII redaction, corpus-level
term statistics, exact quantile profiles, and connected-component
dedup clusters.

Everything except the (inherently iterative) connected components is
pure column algebra in whole-stage codegen; splits/samples touch each
row once with no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from icecube_spark.functions.hashing import spark_hex2int
from icecube_spark.functions.materialize import materialize

EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def _range_partitions(df: DataFrame, num_ranges: int | None = None) -> int:
    """Range-partition count for the distributed rank/cumsum/lag/CDF
    primitives: the caller's explicit ``num_ranges`` if given, else
    ``spark.sql.shuffle.partitions``. A fixed constant here would cap
    every percentile/NTILE/lag reroute at that many tasks per pass no
    matter the cluster — right on local[32], wrong at 100× — so the
    count follows the same knob that sizes every other shuffle."""
    if num_ranges is not None:
        return max(1, int(num_ranges))
    try:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # "auto" or unset under AQE-managed shuffles: Spark's own default
        n = 200
    return max(1, n)


def _range_pass(
    df: DataFrame,
    order_cols: list,
    keys: list[str],
    local: dict,
    per_range: list,
    num_ranges: int | None,
    handoff: bool = False,
) -> DataFrame:
    """The range pass under every distributed window primitive (rank,
    NTILE, running sum, depth cuts, lag): exact windows over a total
    order, per key, without funnelling a key through one task.

    RANGE-repartition on (keys, order) and tag each row with its
    range id ``__pid``; add the ``local`` columns, each a function of
    the window over (``__pid``, keys) in order; aggregate ``per_range``
    per (``__pid``, key) into a tiny table (≤ |keys|·num_ranges rows)
    and broadcast it back onto the rows with a null-safe keyed join (a
    name-join would drop null-key rows that groupBy kept as a group).
    Each per-range column ``c`` arrives as ``c_off``, its sum over the
    key's earlier ranges (0 for the first), and ``c_all``, its sum over
    the whole key. With ``handoff`` the per-range row goes instead,
    unsummed, to the key's NEXT non-empty range (left join: the first
    range gets nulls). Not blindly ``__pid + 1``: duplicate sampled
    bounds can leave interior ranges empty.

    The local rows are materialized ONCE, before the rows branch and
    the table branch split: both must see the SAME range bounds —
    spark_partition_id is nondeterministic and the range sampler can
    pick different bounds per subtree evaluation when the input's own
    row order is nondeterministic (e.g. a join), silently corrupting
    the offsets (at 100 TB this is a reliable checkpoint, same as the
    iterative operators).
    """
    p = df.repartitionByRange(
        _range_partitions(df, num_ranges), *keys, *order_cols
    ).withColumn("__pid", F.spark_partition_id())
    wloc = Window.partitionBy("__pid", *keys).orderBy(*order_cols)
    loc = p.select(
        "*", *[fn(wloc).alias(c) for c, fn in local.items()]
    ).transform(materialize)
    agg = loc.groupBy("__pid", *keys).agg(*per_range)
    names = agg.columns[len(keys) + 1:]
    wkey = Window.partitionBy(*keys).orderBy("__pid")
    if handoff:
        nxt = F.lead("__pid").over(wkey).alias("__pid")
        tab = agg.select(nxt, *keys, *names).where(F.col("__pid").isNotNull())
    else:
        before = wkey.rowsBetween(Window.unboundedPreceding, -1)
        whole = Window.partitionBy(*keys).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        tab = agg.select(
            "__pid",
            *keys,
            *[
                F.coalesce(F.sum(c).over(before), F.lit(0)).alias(f"{c}_off")
                for c in names
            ],
            *[F.sum(c).over(whole).alias(f"{c}_all") for c in names],
        )
    tab = tab.select(
        F.col("__pid").alias("__opid"),
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        *tab.columns[len(keys) + 1:],
    )
    cond = F.col("__pid") == F.col("__opid")
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(F.col(f"__k_{k}"))
    return loc.join(F.broadcast(tab), cond, "left" if handoff else "inner").drop(
        "__opid", *[f"__k_{k}" for k in keys]
    )


def _bucket(id_col: str, n: int = 100) -> F.Column:
    """Deterministic bucket in [0, n): md5 of the id, first 60 bits.
    Same text formula evaluates identically in DuckDB, so assignment
    is oracle-checkable and stable across engines and re-runs."""
    return F.expr(f"{spark_hex2int(f'cast({id_col} as string)')} % {n}")


def train_test_split(
    df: DataFrame, id_col: str, train_pct: int = 90, val_pct: int = 5
) -> DataFrame:
    """P1 — hash-split rows into train/val/test by id. No shuffle, no
    state: the split is a pure function of the id, so adding data
    never reassigns existing rows (critical for incremental corpus
    builds — a random split would leak val rows into train on every
    append)."""
    b = _bucket(id_col)
    return df.withColumn("bucket", b.cast("int")).withColumn(
        "split",
        F.when(F.col("bucket") < train_pct, "train")
        .when(F.col("bucket") < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def stratified_sample(
    df: DataFrame, id_col: str, stratum_col: str, pct: int = 20
) -> DataFrame:
    """P2 — deterministic per-stratum sample: keep ~pct% of each
    stratum by id hash. Map-only (the stratum column just rides
    along); at 100 TB this is the scan-time corpus downsampler."""
    return df.where(_bucket(id_col) < pct)


def pii_redact(df: DataFrame, text_col: str) -> DataFrame:
    """P3 — scrub emails/phone numbers, count what was removed.
    Single regexp pass per pattern, whole-stage codegen; the counts
    feed a redaction-rate audit table."""
    # patterns go through the DSL (raw Java regex), never F.expr — the
    # SQL parser would eat one escape level and silently change them
    n_emails = F.size(F.regexp_extract_all(F.col(text_col), F.lit(EMAIL_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(F.col(text_col), F.lit(PHONE_RE), F.lit(0)))
    clean = F.regexp_replace(
        F.regexp_replace(text_col, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )
    return (
        df.withColumn("n_emails", n_emails.cast("int"))
        .withColumn("n_phones", n_phones.cast("int"))
        .withColumn("clean_text", clean)
    )


def source_mix(
    df: DataFrame,
    id_col: str,
    source_col: str,
    weights: dict[str, float],
) -> DataFrame:
    """P10 — deterministic corpus mixing: resample each source to a
    target weight. weight < 1 downsamples (hash filter), weight > 1
    upsamples (integer copies + hash-selected fractional copy), e.g.
    {'web': 0.5, 'wiki': 2.25}. Epoch-mixing for training runs.

    n_copies(id) = floor(w) + (1 if hash-bucket(id) < frac(w)*100).
    Pure function of the id — append-stable, no shuffle, no state;
    the explode emits copy_id for downstream epoch shuffling. Sources
    missing from `weights` default to 1.0 (pass-through).
    """
    b = _bucket(id_col)
    full = "CASE " + " ".join(
        f"WHEN {source_col} = '{s}' THEN {int(w)}" for s, w in weights.items()
    ) + " ELSE 1 END"
    rem = "CASE " + " ".join(
        f"WHEN {source_col} = '{s}' THEN {int(round(100 * (w - int(w))))}"
        for s, w in weights.items()
    ) + " ELSE 0 END"
    out = df.withColumn("bucket", b.cast("int")).withColumn(
        "n_copies",
        F.expr(f"{full} + IF(bucket < {rem}, 1, 0)").cast("int"),
    )
    # sequence(1, 0) in Spark is the DESCENDING [1, 0], not empty —
    # zero-copy rows must be filtered before the explode
    return (
        out.where(F.col("n_copies") >= 1)
        .select(
            id_col,
            source_col,
            "n_copies",
            F.explode(F.expr("sequence(1, n_copies)")).alias("copy_id"),
        )
    )


def topk_terms(
    df: DataFrame, text_col: str, norm_expr: str, k: int = 20
) -> DataFrame:
    """P4 — corpus-wide top-k terms. explode -> partial map-side
    count -> one shuffle on term -> global top-k (rank window over the
    already-tiny aggregate)."""
    terms = df.select(
        F.explode(F.expr(f"split({norm_expr.format(col=text_col)}, ' ')")).alias("term")
    )
    counts = terms.where(F.col("term") != "").groupBy("term").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy().orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .orderBy("rank")
    )


def topk_terms_per_group(
    df: DataFrame,
    group_col: str,
    text_col: str,
    norm_expr: str,
    k: int = 5,
) -> DataFrame:
    """P11 — heavy hitters per stratum: the k most frequent terms in
    each group (language, source, ...). One shuffle on (group, term)
    with map-side partial counts, then a rank window over the small
    per-group aggregate — the window never sees raw rows, only
    (group, term) counts, so it scales with vocabulary, not corpus.
    Ties break lexicographically for determinism."""
    terms = df.select(
        F.col(group_col),
        F.explode(
            F.expr(f"split({norm_expr.format(col=text_col)}, ' ')")
        ).alias("term"),
    )
    counts = (
        terms.where(F.col("term") != "")
        .groupBy(group_col, "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .orderBy(group_col, "rank")
    )


def length_quantiles(
    df: DataFrame, group_col: str, value_col: str, id_col: str
) -> DataFrame:
    """P5 — exact per-group length profile (min/p50/p90/max/count).
    Quantiles are rank-selected (value at row ceil(q*n) in sort
    order) — pure integer semantics, so Spark and DuckDB agree
    bit-for-bit where interpolation formulas would drift. Ranks come
    from the keyed distributed_rank (range-partition on (group,
    value, id), local ranks, broadcast offsets) — bit-identical to
    the keyed window form the oracle uses, but a handful-valued group
    (|langs|) never serializes its corpus-grain doc slice into one
    task (the r8 registry-wide funnel sweep caught this one)."""
    ranked = distributed_rank(
        df.select(
            F.col(group_col),
            F.col(value_col).cast("bigint").alias("v"),
            F.col(id_col),
        ),
        ["v", id_col],
        rank_col="rn",
        n_col="n",
        key_cols=[group_col],
    )
    at = lambda q: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(q * F.col("n")), F.col("v"))
    )
    return (
        ranked.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("v").alias("min_len"),
            at(F.lit(0.5)).alias("p50_len"),
            at(F.lit(0.9)).alias("p90_len"),
            F.max("v").alias("max_len"),
        )
        .orderBy(group_col)
    )


def connected_components(
    pairs: DataFrame, a_col: str, b_col: str, max_iter: int = 20
) -> DataFrame:
    """P6 — dedup clusters: connected components over near-dup pairs,
    labeling every doc with the min doc id of its component (the
    canonical representative to keep).

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbors; converges in
    O(component diameter) rounds — near-dup components are tiny
    (pairs of variants), so 2-3 rounds in practice. Each round is one
    distributed join + one aggregate, stored by the ``materialize()``
    barrier; the convergence flag is observed while that barrier
    runs, so nothing collects and no round runs a job of its own for
    it. Every shuffle is sized to the data by AQE (no hand-picked
    partition count), and the barriers' blocks are freed once no
    frame reads them, so a call persists nothing past its return. At
    100 TB this is the standard large-graph CC pattern (GraphFrames
    does the same joins underneath).
    """
    # the pair-mining pipeline above is the expensive part, and its
    # lineage is the expensive PLAN: every iteration re-analyzes the
    # whole mining tree unless it is severed here. localCheckpoint
    # materializes the edge list once and gives each round a
    # leaf-sized plan (the same driver-time blowup
    # connected_components_fast truncates per-round).
    sym = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .transform(materialize)
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    # self-loops make each round a single join + single aggregate: the
    # (n, n) row carries n's own label through the neighbor join, so
    # min() covers self+neighbors and the old label rides along for the
    # convergence flag — no second labels join per round. Duplicate
    # edges are harmless under min(), so no distinct() pass is needed.
    edges = sym.union(nodes.select("node", "node")).transform(materialize)
    labels = nodes.withColumn("label", F.col("node"))
    for _ in range(max_iter):
        flag = Observation()
        stepped = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(
                F.min("label").alias("label"),
                F.max(
                    F.when(F.col("dst") == F.col("src"), F.col("label"))
                ).alias("old"),
            )
            .select(F.col("src").alias("node"), "label", "old")
            .observe(flag, F.max(F.col("label") < F.col("old")).alias("changed"))
            .transform(materialize)
        )
        labels = stepped.select("node", "label")
        if not flag.get["changed"]:
            break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


def ngram_expr(text_col: str, n: int) -> str:
    """Distinct word n-grams of the normalized text (whole text when
    shorter than n words). Same binding trick as operators/dedup.py
    GRAMS: the token array is bound once via transform-over-singleton
    so the split regex runs once per row, not once per gram."""
    norm = f"regexp_replace(lower(trim({text_col})), '\\\\s+', ' ')"
    return f"""
        array_distinct(element_at(
          transform(array(split({norm}, ' ')),
            t -> CASE WHEN size(t) < {n}
                      THEN array(concat_ws(' ', t))
                      ELSE transform(sequence(1, size(t) - {n - 1}),
                                     i -> concat_ws(' ', slice(t, i, {n})))
                 END),
          1))
    """


def dup_ngram_fraction(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """P7 — Gopher-style repetition signal: per doc, the fraction of
    its distinct n-grams that also occur in at least one other doc.
    High fractions mark boilerplate/template docs that survive exact
    dedup. One shuffle on the gram (bounded: distinct grams per doc),
    one on the doc id for the ratio."""
    grams = df.select(
        F.col(id_col), F.explode(F.expr(ngram_expr(text_col, n))).alias("gram")
    )
    gram_docs = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        grams.join(gram_docs, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("n_docs") > 1).cast("bigint")).alias("n_shared"),
        )
        .withColumn("dup_fraction", F.col("n_shared") / F.col("n_grams"))
        .orderBy(id_col)
    )


def decontaminate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_shared: int = 2,
    train_pct: int = 90,
    eval_pct_from: int = 95,
) -> DataFrame:
    """P8 — train/eval contamination report: training docs sharing >=
    min_shared distinct n-grams with a held-out (hash-split) eval doc.
    The eval side is a small fixed fraction of the corpus, so at scale
    its gram index broadcasts and the train side streams through
    map-side — contamination checking costs one scan of train."""
    b = _bucket(id_col)
    grams = df.select(
        F.col(id_col),
        b.alias("b"),
        F.explode(F.expr(ngram_expr(text_col, n))).alias("gram"),
    )
    train = grams.where(F.col("b") < train_pct).select(
        F.col(id_col).alias("train_doc"), "gram"
    )
    ev = grams.where(F.col("b") >= eval_pct_from).select(
        F.col(id_col).alias("eval_doc"), "gram"
    )
    return (
        train.join(F.broadcast(ev), "gram")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .orderBy("train_doc", "eval_doc")
    )


def length_histogram(
    df: DataFrame, group_col: str, len_col: str, bin_width: int = 64
) -> DataFrame:
    """P12 — fixed-width length histogram per group: doc counts and
    exact bin bounds per `bin_width`-char bucket. Map-only bucketing
    plus one partial-agg shuffle bounded by |groups|×|bins|."""
    bin_id = F.expr(f"CAST({len_col} DIV {bin_width} AS INT)").alias("bin")
    return (
        df.groupBy(F.col(group_col), bin_id)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(len_col).alias("min_len"),
            F.max(len_col).alias("max_len"),
        )
        .withColumn("bin_lo", F.col("bin") * bin_width)
    )


def dup_cluster_sizes(df: DataFrame, text_col: str) -> DataFrame:
    """P13 — duplicate-cluster size histogram: how many exact-dup
    clusters exist at each multiplicity (the first report run after
    any dedup pass; 1-clusters = unique docs).

    Plan: two shuffles, the second negligible — cluster sizes via
    md5-keyed partial agg (map-side combine collapses dup-heavy
    partitions), then a histogram over one row per cluster.
    """
    clusters = df.groupBy(
        F.md5(F.col(text_col).cast("binary")).alias("h")
    ).agg(F.count(F.lit(1)).alias("cluster_size"))
    return clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).alias("n_docs"),
    )


def sample_per_group(
    df: DataFrame, group_col: str, id_col: str, k: int = 10
) -> DataFrame:
    """P14 — deterministic k-per-group sample: the k ids with the
    smallest md5(id) per group. Equivalent to a seeded reservoir but
    order-free and append-stable for unrelated rows — the same doc is
    in or out regardless of partitioning, scan order, or cluster size,
    so pipeline re-runs are reproducible at any scale.

    Plan: one exchange on the group; Spark's WindowGroupLimit rewrite
    turns the rank<=k filter into a per-partition top-k BEFORE the
    shuffle, so only k rows per group per input partition move.
    """
    h = F.md5(F.col(id_col).cast("string").cast("binary"))
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
        .drop("sample_rank")
    )


_NUMERIC_DTYPES = {"tinyint", "smallint", "int", "bigint", "float", "double"}


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """P15 — single-pass column profiler: per column the non-null
    count, exact distinct count, and numeric min/max (timestamps as
    epoch micros, strings null) — the ANALYZE/data-quality primitive
    run before any training job touches a new table drop.

    Plan: ONE scan; all per-column aggregates evaluate together. The
    multi-column exact COUNT(DISTINCT) rewrites into a single Expand
    (rows x |cols| map-side, one shuffle) — exact is the oracle-able
    choice; swap `F.countDistinct` for `F.approx_count_distinct` at
    100 TB where a 2% HLL answer is the standard trade. The stack()
    unpivot runs on the single aggregated row.
    """
    names = cols or [c for c, _ in df.dtypes]
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in names:
        t = dtypes[c]
        aggs.append(F.count(c).alias(f"__nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"__nd_{c}"))
        if t in _NUMERIC_DTYPES:
            mn = F.min(F.col(c).cast("double"))
            mx = F.max(F.col(c).cast("double"))
        elif t in ("timestamp", "timestamp_ntz", "date"):
            mn = F.min(F.unix_micros(F.col(c).cast("timestamp"))).cast("double")
            mx = F.max(F.unix_micros(F.col(c).cast("timestamp"))).cast("double")
        else:
            mn = F.max(F.lit(None).cast("double"))
            mx = F.max(F.lit(None).cast("double"))
        aggs.append(mn.alias(f"__mn_{c}"))
        aggs.append(mx.alias(f"__mx_{c}"))
    row = df.agg(*aggs)
    stack = ", ".join(
        f"'{c}', `__nn_{c}`, `__nd_{c}`, `__mn_{c}`, `__mx_{c}`" for c in names
    )
    return row.select(
        F.expr(
            f"stack({len(names)}, {stack})"
            " as (col_name, n_nonnull, n_distinct, min_num, max_num)"
        ),
        "n_rows",
    )


def corpus_matrix(df: DataFrame, dim_a: str, dim_b: str, size_col: str) -> DataFrame:
    """P16 — GROUPING SETS corpus report: totals by (a), (b), and
    (a, b) in one pass — the "how much of each language from each
    source do we have" matrix reported before fixing a training mix.

    Plan: one scan; Catalyst's Expand replicates each row once per
    grouping set map-side, then a single partial-agg shuffle covers
    all three groupings (vs three scans for three GROUP BYs).
    grouping-flag columns disambiguate real NULL keys from subtotal
    rows, same as the SQL standard.
    """
    return (
        df.groupingSets(
            [[dim_a], [dim_b], [dim_a, dim_b]],
            dim_a,
            dim_b,
        )
        .agg(
            F.grouping(dim_a).cast("int").alias("is_total_a"),
            F.grouping(dim_b).cast("int").alias("is_total_b"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(size_col).alias("total_size"),
        )
    )


def group_gini(df: DataFrame, group_col: str, value_col: str, id_col: str) -> DataFrame:
    """P17 — per-group Gini coefficient of an integer size column
    (doc lengths per source here): the inequality report behind
    corpus-balance decisions — a source whose token mass sits in a few
    giant docs behaves very differently from an evenly-sized one at
    the same total size.

    Gini = Σ((2·rank − n − 1)·x) / (n·Σx) over the ascending-sorted
    sizes. With integer x the numerator and denominator are exact
    BIGINT sums — both engines do identical integer arithmetic and
    one final double division. Per-group ranks via the keyed
    distributed_rank (range-partitioned local ranks + broadcast
    offsets — bit-identical to the group-partitioned window the
    oracle uses, without holding a whole group's corpus-grain rows in
    one task); ties sort by id so ranks are total-order deterministic.
    """
    ranked = distributed_rank(
        df.select(
            F.col(group_col),
            F.col(value_col).cast("bigint").alias("x"),
            F.col(id_col),
        ),
        ["x", id_col],
        rank_col="rn",
        key_cols=[group_col],
    ).withColumn("rn", F.col("rn").cast("bigint"))
    return (
        ranked.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("x").alias("total_size"),
            F.sum((2 * F.col("rn")) * F.col("x")).alias("s2rx"),
        )
        .select(
            group_col,
            "n_docs",
            "total_size",
            (
                (
                    F.col("s2rx") - (F.col("n_docs") + 1) * F.col("total_size")
                ).cast("double")
                / (F.col("n_docs") * F.col("total_size")).cast("double")
            ).alias("gini"),
        )
    )


def length_deciles(df: DataFrame, id_col: str, value_col: str) -> DataFrame:
    """P18 — global quantile-bucket assignment WITHOUT a global sort:
    the scale-correct way to tag every row with its corpus-wide
    length decile (curriculum buckets, stratified eval splits).

    A window row_number over the whole corpus would funnel everything
    through one partition. Instead: (1) aggregate the exact value
    histogram — one shuffle to a |distinct-values|-sized table;
    (2) cumulative counts over that tiny table give, for each decile
    d, the cut value = min v whose running count reaches ceil(d·N/10);
    (3) broadcast the 9 cuts back and assign bucket = 1 + #cuts < v,
    map-only. Integer ranks make the decile edges engine-exact; rows
    equal to a cut value all land in the same bucket (standard
    histogram-quantile semantics, deterministic without an id sort).
    """
    hist = df.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy().orderBy("v")
    cum = hist.select(
        "v",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_total"),
    )
    cuts = (
        cum.crossJoin(F.broadcast(df.sparkSession.range(1, 10).select(
            F.col("id").alias("d")
        )))
        .where(F.col("cum") >= F.ceil(F.col("d") * F.col("n_total") / 10))
        .groupBy("d")
        .agg(F.min("v").alias("cut"))
    )
    cut_arr = cuts.agg(
        F.sort_array(F.collect_list("cut")).alias("cut_list")
    )
    return (
        df.select(F.col(id_col), F.col(value_col))
        .crossJoin(F.broadcast(cut_arr))
        .select(
            id_col,
            value_col,
            (
                1
                + F.size(
                    F.filter(
                        "cut_list", lambda c: c < F.col(value_col)
                    )
                )
            ).cast("int").alias("decile"),
        )
    )


def feature_join(events: DataFrame, orders: DataFrame) -> DataFrame:
    """P19 — per-user feature assembly across sources (the
    feature-store pattern): activity features from the event stream
    FULL OUTER joined with spend features from the transactional
    table, zero-filled so downstream training never sees nulls.

    Plan: each source partial-aggregates to one row per user BEFORE
    the join, so the full-outer shuffle moves user-cardinality rows,
    never raw facts. Value sums fold in decimal (functions/parity.py).
    """
    from icecube_spark.functions.parity import dsum

    ev = events.groupBy(F.col("user_id").alias("uid")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        ),
        dsum("value").alias("total_value"),
        F.max("ts").alias("last_event_ts"),
    )
    od = orders.groupBy(F.col("o_custkey").alias("uid")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_spend"),
    )
    j = ev.join(od, "uid", "full_outer")
    return j.select(
        F.col("uid").alias("user_id"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        "last_event_ts",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
    )


def skew_report(df: DataFrame, key_col: str, k: int = 10) -> DataFrame:
    """P21 — join-key skew diagnosis: per-key cardinalities reduced to
    the numbers a planner (or a human) needs — total keys, max/mean
    rows per key, skew factor, and the top-k heavy keys. Run before
    any big join to decide between AQE skew split, salting, or a
    broadcast of the hot keys.

    Plan: one partial-agg shuffle to key cardinality; everything after
    runs on the aggregate (scalar stats broadcast back, heavy-hitter
    rank over the aggregate only). The mean is an exact INT/INT
    double division.
    """
    per_key = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("rows_per_key")
    )
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("rows_per_key").alias("n_rows"),
        F.max("rows_per_key").alias("max_rows"),
    )
    w = Window.partitionBy().orderBy(F.desc("rows_per_key"), F.asc("key"))
    top = per_key.withColumn("rank", F.row_number().over(w).cast("int")).where(
        F.col("rank") <= k
    )
    return top.crossJoin(F.broadcast(stats)).select(
        "rank",
        "key",
        "rows_per_key",
        "n_keys",
        "n_rows",
        "max_rows",
        (F.col("n_rows").cast("double") / F.col("n_keys").cast("double")).alias(
            "mean_rows_per_key"
        ),
        (
            F.col("rows_per_key").cast("double")
            / (F.col("n_rows").cast("double") / F.col("n_keys").cast("double"))
        ).alias("skew_factor"),
    )


def sequence_packing(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    bin_tokens: int = 4096,
) -> DataFrame:
    """P24 — contiguous sequence packing for LLM training: docs are
    laid end-to-end per source in deterministic id order and cut into
    fixed-size token bins; a doc belongs to the bin its first token
    lands in. The report is per-bin occupancy — the input manifest a
    trainer needs to build packed batches without a driver loop.

    Plan: token counts are map-only column math; the cumulative offset
    is a keyed distributed_cumsum (range-partitioned local prefix sums
    + broadcast offsets — bit-identical to the source-partitioned
    window form, without holding a whole source's docs in one task at
    100 TB); the bin report is a partial agg on (group, bin). All
    arithmetic INT64-exact.
    """
    toks = df.select(
        F.col(group_col).alias("source"),
        F.col(id_col),
        F.size(F.split(F.expr(normalized_expr(text_col)), " "))
        .cast("bigint")
        .alias("n_tokens"),
    )
    binned = (
        distributed_cumsum(
            toks, [id_col], "n_tokens", cum_col="__cum", key_cols=["source"]
        )
        .withColumn(
            # coalesce: the window form this replaces skipped a NULL
            # token count (offset = prefix sum), it did not null the bin
            "offset", F.col("__cum") - F.coalesce(F.col("n_tokens"), F.lit(0))
        )
        .drop("__cum")
        .withColumn("bin", F.floor(F.col("offset") / bin_tokens))
    )
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def normalized_expr(text_col: str) -> str:
    return f"regexp_replace(lower(trim({text_col})), '\\\\s+', ' ')"


def quality_gate_funnel(df: DataFrame, text_col: str, len_col: str) -> DataFrame:
    """P25 — sequential quality-gate funnel: how many docs survive each
    cleaning rule applied in order (the corpus-curation report every
    filtering pipeline publishes). Gates: raw length, word count,
    alphabetic ratio, mean word length sanity.

    Plan: every gate is codegen column math evaluated in ONE scan; the
    funnel is a single 1-row aggregate unpivoted with stack() — no
    per-gate rescans, no shuffle beyond the scalar agg."""
    norm = normalized_expr(text_col)
    flags = df.select(
        (F.col(len_col) >= 100).alias("g1"),
        (F.size(F.split(F.expr(norm), " ")) >= 20).alias("g2"),
        (
            F.length(F.regexp_replace(F.expr(norm), "[^a-z]", ""))
            * 10
            >= F.length(F.expr(norm)) * 6
        ).alias("g3"),
        (
            F.length(F.expr(norm))
            <= F.size(F.split(F.expr(norm), " ")) * 12
        ).alias("g4"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("g1").cast("bigint")).alias("n1"),
        F.sum((F.col("g1") & F.col("g2")).cast("bigint")).alias("n2"),
        F.sum((F.col("g1") & F.col("g2") & F.col("g3")).cast("bigint")).alias("n3"),
        F.sum(
            (F.col("g1") & F.col("g2") & F.col("g3") & F.col("g4")).cast("bigint")
        ).alias("n4"),
    )
    return agg.select(
        F.expr(
            "stack(4,"
            " 1, 'min_length',    n0, n1,"
            " 2, 'min_words',     n1, n2,"
            " 3, 'alpha_ratio',   n2, n3,"
            " 4, 'word_len_sane', n3, n4)"
            " AS (gate_no, gate, n_in, n_out)"
        )
    ).withColumn("n_dropped", F.col("n_in") - F.col("n_out"))


def dedup_survivorship(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """P26 — survivorship merge: exact-dup clusters collapse to one
    canonical record keeping the best field from each member (min id,
    max length, every source seen). The record-linkage "golden record"
    step after D1.

    Plan: one shuffle on the content hash; list_sort keeps the merged
    source list deterministic; only multi-member clusters survive the
    HAVING."""
    h = df.select(
        F.col(id_col),
        F.col("source"),
        F.col("n_chars"),
        F.md5(F.expr(normalized_expr(text_col))).alias("content_hash"),
    )
    return (
        h.groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.max("n_chars").alias("best_n_chars"),
            F.array_sort(F.collect_set("source")).alias("sources"),
        )
        .where(F.col("n_members") > 1)
    )


def shard_manifest(
    df: DataFrame, id_col: str, size_col: str, n_shards: int = 16
) -> DataFrame:
    """P28 — deterministic shard assignment + manifest: every doc maps
    to hash(id) % n_shards (append-stable, no global sort) and the
    manifest reports per-shard row/byte totals — the writer plan for
    emitting training shards, plus the balance check that the hash is
    actually uniform.

    Plan: map-only assignment; one partial-agg shuffle to n_shards
    rows."""
    shard = ((F.col(id_col) * F.lit(2654435761)) % F.lit(4294967296)) % F.lit(
        n_shards
    )
    return (
        df.select(shard.alias("shard"), F.col(id_col), F.col(size_col))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(size_col).alias("total_bytes"),
            F.min(id_col).alias("min_doc"),
            F.max(id_col).alias("max_doc"),
        )
    )


def ngram_novelty(df: DataFrame, id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """F15 — incremental novelty: per doc, the fraction of its distinct
    n-grams whose FIRST occurrence (by id order) is this doc. The
    streaming-corpus twin of P7: "how much genuinely new text does
    each successive document contribute" — the curve data curators
    watch to decide when a source is mined out.

    Plan: one shuffle on the gram to find min(id) per gram, join back
    on the gram (same clustering), then a per-doc aggregate. Exact
    integer counts; the ratio is one INT/INT double division."""
    grams = df.select(
        F.col(id_col), F.explode(F.expr(ngram_expr(text_col, n))).alias("gram")
    )
    first = grams.groupBy("gram").agg(F.min(id_col).alias("first_doc"))
    return (
        grams.join(first, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("first_doc") == F.col(id_col)).cast("bigint")).alias(
                "n_novel"
            ),
        )
        .withColumn(
            "novelty",
            F.col("n_novel").cast("double") / F.col("n_grams").cast("double"),
        )
    )


def weighted_sample(df: DataFrame, id_col: str, group_col: str) -> DataFrame:
    """P29 — temperature sampling APPLIED: downsample each source by
    the acceptance probability that moves the natural source mix to
    the t=0.5 temperature mix of P22 (p_s ∝ sqrt-share / natural
    share, capped at 1 — no upsampling). The accept test is a
    deterministic per-doc hash threshold, so the sample is
    append-stable and reproducible.

    Exactness: the probability is staged integer floor-divisions
    (share quantized to 1e5, then scaled by N/n_s) — overflow-safe to
    1e13 docs; the per-doc test is one modulus compare. The report is
    per-source kept/target accounting.

    Scale: weights are a |sources|-row aggregate broadcast back; the
    accept test is map-only on the corpus scan; the report is one
    partial agg."""
    counts = df.groupBy(F.col(group_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("cast(floor(sqrt(count(1)) * 1e9) as bigint)").alias("qw"),
    )
    tot = counts.agg(
        F.sum("qw").alias("qtotal"), F.sum("n_docs").alias("n_total")
    )
    probs = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.least(
            F.lit(100000).cast("bigint"),
            F.expr("(qw * 100000 div qtotal) * n_total div n_docs"),
        ).alias("p_q5"),
    )
    tagged = df.select(
        F.col(id_col), F.col(group_col).alias("source")
    ).withColumn(
        "h", ((F.col(id_col) * F.lit(2654435761)) % F.lit(4294967296)) % 100000
    )
    kept = (
        tagged.join(F.broadcast(probs), "source")
        .where(F.col("h") < F.col("p_q5"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        probs.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "p_q5",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (
                F.coalesce("n_kept", F.lit(0)).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("kept_frac"),
        )
    )


def curriculum_shards(
    df: DataFrame, id_col: str, score_col: str, n_shards: int = 8
) -> DataFrame:
    """P30 — curriculum sharding: rank every doc by a difficulty
    score and deal ranks round-robin into n_shards, so each shard
    carries the SAME difficulty distribution (stratified-by-rank) —
    unlike hash sharding (shard_manifest), which equalizes counts but
    not difficulty. Used when training order matters (curriculum /
    anti-curriculum schedules) and each worker must see the full
    difficulty spectrum.

    Plan: one exact global rank via distributed_rank (range
    repartition + prefix-summed offsets — no single-partition sort;
    the round-robin deal is rank % n, which only needs rank, not
    order). Tiebreak on the id makes the rank total and
    deterministic, so the oracle's plain ROW_NUMBER is bit-identical.
    """
    ranked = distributed_rank(
        df.select(id_col, score_col), [score_col, id_col], rank_col="rank"
    )
    return ranked.select(
        id_col,
        F.col(score_col).alias("score"),
        "rank",
        ((F.col("rank") - 1) % n_shards).cast("int").alias("shard"),
    )


def pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    weight_col: str | None = None,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """P33 — weighted PageRank over an edge list, the canonical
    iterative-join workload (the centrality screen for "which items
    anchor the co-occurrence graph" — e.g. which parts anchor market
    baskets, which sources anchor the near-dup graph).

    Plan: the loop body is the textbook distributed step — ranks join
    onto out-edges (shuffle-hash, ranks build side), contributions
    aggregate on dst (second shuffle), damping applied map-side. Per
    iteration that is two shuffles of |edges| rows; the corpus never
    collects (the only driver round-trip is the 1-row dangling-mass
    scalar). Undirected graphs pass both edge directions. Dangling
    mass is redistributed uniformly (standard convention) and is
    summed STRAIGHT OFF the previous iteration's materialized ranks
    (ranks ⋈ broadcast dangling-node set — a |nodes|-row job) then
    inlined as a literal, so the big dst aggregate carries edge
    contributions only and the iteration needs ONE blocking
    materialization (ranks), not two. When the static dangling set is
    EMPTY (every undirected graph) the per-iteration mass job is
    skipped outright — dm is identically the 0 the empty aggregate
    would coalesce to, so the fold is bit-identical. At 100 TB the edge list is the
    big side and stays partitioned by src across iterations (one
    repartition up front keeps every ranks join co-located; the
    shuffle_hash hint stops SMJ from re-sorting the cached edges
    every pass).

    Exactness (the exact-Lloyd discipline, operators/ivf.py): ranks
    live as pico-unit BIGINTs (floor(rank·1e12)); every per-edge
    contribution floors frac·qrank into an integer before the dst
    aggregation, so the reduction is order-free and the whole
    fixpoint is bit-reproducible by an unrolled SQL twin — the
    DuckDB oracle replays all iterations as CTEs. Masses stay ≤ 1e12
    so every BIGINT→DOUBLE conversion is exact in both engines.
    """
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
    )
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    e = e.join(out_w, "src").withColumn("frac", F.col("w") / F.col("out_w"))
    e = e.repartition("src").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    # the dangling-node SET is static — resolve it once, not per
    # iteration (only its rank mass changes). Counting it up front
    # lets a graph with no sinks (every undirected graph: both edge
    # directions are passed) skip the per-iteration dangling-mass
    # job entirely — dm is identically 0 there, and the skip removes
    # one blocking driver round-trip per iteration
    dangling_nodes = nodes.join(
        out_w, nodes.node == out_w.src, "left_anti"
    ).persist()
    n_dangling = dangling_nodes.count()
    if not n_dangling:
        # the empty frame is never read again — don't pin it for the run
        dangling_nodes.unpersist()
    import math

    # pico-unit integer ranks; base/damping literals are single
    # Python doubles so both engines see one unambiguous op order
    base = (1.0 - damping) / n_nodes * 1e12
    ranks = nodes.select(
        "node", F.lit(int(math.floor(1e12 / n_nodes))).cast("bigint").alias("qr")
    )
    for _ in range(iterations):
        # per-edge contributions reduce on dst — the ONE |edges|-scale
        # shuffle of the iteration. The shuffle_hash hint makes ranks
        # the hash build side (|nodes|/partitions rows per task), so
        # the src-partitioned edge cache streams UNSORTED — an SMJ
        # would re-sort the full edge list every iteration even though
        # its partitioning is reused.
        rj = ranks.hint("shuffle_hash")
        contribs = (
            e.join(rj, e.src == rj.node)
            .select(
                "dst",
                F.floor(F.col("frac") * F.col("qr").cast("double"))
                .cast("bigint").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("received"))
        )
        # dangling mass sums straight off the PREVIOUS ranks (already
        # materialized by last pass's checkpoint): a |nodes|-row
        # broadcast-join scalar, collected to the driver (one BIGINT —
        # model-sized by the repo's collect discipline) and inlined as
        # a literal, so the big ranks job carries no broadcast
        # sub-exchange of its own
        if n_dangling:
            dm = ranks.join(F.broadcast(dangling_nodes), "node").agg(
                F.coalesce(F.sum("qr"), F.lit(0)).cast("bigint").alias("dm")
            ).collect()[0]["dm"]
        else:
            dm = 0  # same literal the empty-set aggregate coalesces to
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .select(
                "node",
                F.floor(
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("received"), F.lit(0)).cast("double")
                        + F.lit(int(dm)).cast("double") / F.lit(float(n_nodes))
                    )
                ).cast("bigint").alias("qr"),
            )
        )
        # Every iteration ends in a barrier: materialize(), under the
        # default backend an eager localCheckpoint
        # (functions/materialize.py). The next pass reads the stored
        # ranks, so its consumers (the edge join, plus the mass scalar
        # when the graph has sinks) never re-run this pass and the plan
        # does not grow with the iteration count. The checkpoint cuts
        # lineage: its blocks are unreplicated, so a lost executor fails
        # the query unless the reliable backend is set. A
        # barrier on every 2nd iteration only (sink-free graphs) timed
        # no faster beyond run-to-run spread, so it was dropped.
        ranks = ranks.transform(materialize)
    # the last barrier's ranks no longer read the cached inputs
    for df in (e, nodes, dangling_nodes):
        df.unpersist()
    out = ranks.select(
        "node", (F.col("qr").cast("double") / F.lit(1e12)).alias("rank")
    )
    return out.orderBy(F.desc("rank"), "node")


def distributed_depth_cuts(
    df: DataFrame,
    value_col: str,
    n_bins: int = 10,
    with_stats: bool = False,
    num_ranges: int | None = None,
) -> DataFrame:
    """Exact global quantile cuts over a NEAR-CONTINUOUS column
    without a single-partition window: the distributed prefix-sum
    pattern. length_deciles' exact-histogram trick assumes few
    distinct values; with ~1 distinct value per row its cumulative
    window would funnel the whole column through one task. Here the
    value histogram (one shuffle; no-op compression on continuous
    data but harmless) goes through the range pass (``_range_pass``)
    ordered by value: local cumulative counts plus each range's
    offset give the global cumulative count with no global sort. Cut
    d = min value whose global running count reaches ceil(d·N/bins);
    integer counts make the cuts engine-exact regardless of
    partitioning.

    Returns a 1-row DataFrame with `cut_list` (n_bins-1 ascending
    values) for broadcast assignment. With ``with_stats=True`` the
    row also carries `vmin`/`vmax` (the cuts at d = 0 and d = bins
    of the same pass — saves consumers a separate min/max scan of the
    column).
    """
    h = df.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    lcum = F.sum("cnt")
    cum = _range_pass(
        h,
        ["v"],
        [],
        {"__lcum": lambda w: lcum.over(w.rowsBetween(Window.unboundedPreceding, 0))},
        [lcum.alias("__ptot")],
        num_ranges,
    ).withColumn("cum", F.col("__lcum") + F.col("__ptot_off"))
    # with stats, d = 0 and d = n_bins add the min and the max value
    ends = int(with_stats)
    ds = df.sparkSession.range(1 - ends, n_bins + ends).select(
        F.col("id").alias("d")
    )
    cuts = (
        cum.crossJoin(F.broadcast(ds))
        .where(F.col("cum") >= F.ceil(F.col("d") * F.col("__ptot_all") / n_bins))
        .groupBy("d")
        .agg(F.min("v").alias("cut"))
    )
    d, cut = F.col("d"), F.col("cut")
    inner = F.when(d.between(1, n_bins - 1), cut)
    out = [F.sort_array(F.collect_list(inner)).alias("cut_list")]
    if with_stats:
        out += [
            F.min(F.when(d == 0, cut)).alias("vmin"),
            F.max(F.when(d == n_bins, cut)).alias("vmax"),
        ]
    return cuts.agg(*out)


def feature_binning(
    df: DataFrame, value_col: str, n_bins: int = 10
) -> DataFrame:
    """P34 — feature binning both ways, side by side: equal-WIDTH
    bins (fixed value intervals from the global min/max) and
    equal-DEPTH bins (global quantile cuts via the distributed
    prefix sum above) over the same column, reporting per-bin count,
    value range and mean. The ML-preprocessing discretization step;
    the side-by-side exposes skew (width bins collapse onto the head,
    depth bins equalize counts).

    Exactness: bin ids come from integer comparisons (depth) or one
    fixed-shape floor expression (width); means fold in decimal.

    Plan: two broadcast-scale side tables (min/max row; cut list),
    then ONE scan assigns both bins per row and a map-side stack()
    duplicates each row into its (method, bin) pair — the column is
    read once for assignment instead of once per method; one final
    (method, bin) aggregate.
    """
    from icecube_spark.functions.parity import davg

    v = F.col(value_col).cast("double")
    # cut list AND min/max come off ONE histogram pass (with_stats)
    cut_arr = distributed_depth_cuts(df, value_col, n_bins, with_stats=True)
    vmin = F.col("vmin").cast("double")
    vmax = F.col("vmax").cast("double")
    # constant column: vmax == vmin divides by zero — every row
    # belongs in bin 0, not NaN
    wbin = (
        F.when(vmax == vmin, F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_bins - 1),
                F.floor((v - vmin) * n_bins / (vmax - vmin)),
            )
        )
        .cast("int")
    )
    dbin = F.size(F.filter("cut_list", lambda c: c < v)).cast("int")
    both = (
        df.crossJoin(F.broadcast(cut_arr))
        .select(
            v.alias("v"), wbin.alias("wbin"), dbin.alias("dbin")
        )
        .select(
            F.expr("stack(2, 'width', wbin, 'depth', dbin)").alias(
                "method", "bin"
            ),
            "v",
        )
    )
    return (
        both.groupBy("method", "bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            davg("v").alias("mean_value"),
        )
        .orderBy("method", "bin")
    )


def quota_rebalance(
    df: DataFrame, id_col: str, stratum_col: str
) -> DataFrame:
    """P36 — rebalance strata to equal quotas by deterministic
    hash-thinning (downsample only, never upsample): stratum i keeps
    min(1, (N/L)/n_i) of its rows, decided per row by the md5 bucket
    in [0, 1e6) — the same pure-function-of-id discipline as
    train_test_split, so appends never reassign rows. The mixing
    counterpart to temperature_resample's power-law reweighting:
    temperature softens imbalance, quota flattens it.

    Exactness: the keep threshold floor(min(1,(N/L)/n_i)·1e6) is an
    exact integer; membership is an integer compare.

    Plan: stratum counts are an L-row broadcast; the keep decision is
    map-only; the output summary re-aggregates per stratum on the
    same tiny key. The corpus shuffles once (the summary agg) and
    the filter itself would be scan-time at 100 TB.
    """
    counts = df.groupBy(F.col(stratum_col).alias("_s")).agg(
        F.count(F.lit(1)).alias("n_before")
    )
    wt = Window.partitionBy()
    thr = counts.select(
        "_s",
        "n_before",
        F.sum("n_before").over(wt).alias("n_total"),
        F.count(F.lit(1)).over(wt).alias("n_strata"),
    ).select(
        "_s",
        "n_before",
        F.floor(
            F.least(
                F.lit(1.0),
                (
                    F.col("n_total").cast("double")
                    / F.col("n_strata").cast("double")
                )
                / F.col("n_before").cast("double"),
            )
            * F.lit(1e6)
        ).cast("bigint").alias("keep_thr"),
    )
    b = _bucket(id_col, 1_000_000)
    tagged = df.join(
        F.broadcast(thr), F.col(stratum_col) == F.col("_s")
    ).withColumn("kept", (b < F.col("keep_thr")).cast("int"))
    return (
        tagged.groupBy(stratum_col)
        .agg(
            F.max("n_before").cast("bigint").alias("n_before"),
            F.max("keep_thr").alias("keep_thr"),
            F.sum("kept").cast("bigint").alias("n_after"),
        )
        .orderBy(stratum_col)
    )


def shard_checksums(
    df: DataFrame, id_col: str, text_col: str, n_shards: int = 16
) -> DataFrame:
    """P38 — order-free shard integrity tags: per shard, the XOR of
    every member's 60-bit md5 content hash plus row/byte counts. XOR
    is commutative and associative, so the checksum is identical for
    any scan order and any engine — re-export the shard anywhere,
    re-XOR, compare: one flipped byte in one document changes the
    tag. The manifest-side half of corpus replication audits
    (shard_manifest P28 checks balance; this checks CONTENT).

    Plan: map-only hashing + one partial-agg shuffle to n_shards
    rows; bit_xor combines map-side like any algebraic aggregate.
    """
    shard = ((F.col(id_col) * F.lit(2654435761)) % F.lit(4294967296)) % F.lit(
        n_shards
    )
    h = F.expr(spark_hex2int(f"cast({text_col} as string)"))
    return (
        df.select(
            shard.cast("int").alias("shard"),
            h.alias("h"),
            F.length(F.encode(F.col(text_col), "utf-8")).alias("nb"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nb").cast("bigint").alias("total_bytes"),
            F.expr("bit_xor(h)").cast("bigint").alias("content_xor"),
        )
        .orderBy("shard")
    )


def truncation_loss(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cuts: tuple = (512, 1024, 2048, 4096),
) -> DataFrame:
    """P40 — context-length planning: for each candidate cut L, how
    many documents exceed L whitespace tokens, what fraction of all
    corpus tokens truncation at L discards, and the share of docs
    untouched. The curve that decides the training context length —
    2k may lose 0.3% of tokens, 512 may lose a quarter.

    Exactness: token counts and losses are exact integers; fractions
    are single INT/INT divisions.

    Plan: one map-only token-count projection, a broadcast join onto
    the |cuts|-row frame (each doc row fans out |cuts| times — still
    linear), and a |cuts|-row aggregate. No corpus shuffle at all
    with map-side partial aggregation.
    """
    from icecube_spark.operators.text import _toks

    n_tok = df.select(
        F.col(id_col),
        F.expr(f"size(filter({_toks(text_col)}, t -> t != ''))").alias("n"),
    )
    cuts_df = df.sparkSession.createDataFrame(
        [(int(c),) for c in cuts], "cut_tokens int"
    )
    j = n_tok.crossJoin(F.broadcast(cuts_df))
    return (
        j.groupBy("cut_tokens")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n") > F.col("cut_tokens"), 1).otherwise(0))
            .cast("bigint").alias("n_truncated"),
            F.sum("n").cast("bigint").alias("total_tokens"),
            F.sum(
                F.greatest(F.lit(0), F.col("n") - F.col("cut_tokens"))
            ).cast("bigint").alias("tokens_lost"),
        )
        .select(
            "cut_tokens",
            "n_docs",
            "n_truncated",
            "total_tokens",
            "tokens_lost",
            (
                F.col("tokens_lost").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("frac_tokens_lost"),
            (
                (F.col("n_docs") - F.col("n_truncated")).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("frac_docs_intact"),
        )
        .orderBy("cut_tokens")
    )


def shard_skew_report(
    df: DataFrame, id_col: str, size_col: str, n_shards: int = 16
) -> DataFrame:
    """P41 — shard balance audit: per shard (P28's hash assignment)
    the byte/doc totals PLUS the skew statistics a writer checks
    before emitting 100 TB of shards — share of bytes, deviation from
    the ideal 1/n share, and the max/mean imbalance factor stamped on
    every row. An imbalance factor of 1.4 means the slowest reader
    does 40% more IO than the mean: fix the key before writing, not
    after.

    Exactness: integer totals; shares and factors are fixed-shape
    IEEE over identical ints.

    Plan: P28's n_shards-row aggregate, then window stats over the
    n_shards-row frame (single tiny partition — not a scale concern).
    """
    base = shard_manifest(df, id_col, size_col, n_shards)
    w = Window.partitionBy()
    tot = F.sum("total_bytes").over(w)
    mean_b = tot.cast("double") / F.lit(float(n_shards))
    return (
        base.select(
            "shard",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("total_bytes").cast("bigint").alias("total_bytes"),
            (F.col("total_bytes").cast("double") / tot.cast("double"))
            .alias("byte_share"),
            (F.col("total_bytes").cast("double") / mean_b)
            .alias("balance_factor"),
            (
                F.max("total_bytes").over(w).cast("double") / mean_b
            ).alias("max_balance_factor"),
        )
        .orderBy("shard")
    )


# target sampling weights for the epoch plan — a static mix spec like
# the ones DoReMi/Pile-style recipes pin per source
EPOCH_PLAN_WEIGHTS = (
    ("src0", 0.10), ("src1", 0.30), ("src2", 0.25), ("src3", 0.05),
    ("src4", 0.30),
)


def epoch_plan(
    df: DataFrame,
    source_col: str,
    text_col: str,
    weights: tuple = EPOCH_PLAN_WEIGHTS,
) -> DataFrame:
    """P43 — training-mix epoch plan: given target sampling weights
    per source and the measured token counts, the tokens each source
    must contribute to one pass of the mixed corpus and the epoch
    (repeat) factor that implies. Epochs >> 1 flag sources the recipe
    will memorize; epochs << 1 flag wasted data. This is the planning
    table a mix owner reads before launching a run.

    Exactness: token counts are exact ints; target tokens and epochs
    are fixed-shape IEEE over identical ints and literal weights.

    Plan: one map-only token count + one ≤|sources|-row aggregate,
    broadcast-joined to the literal weight table.
    """
    from icecube_spark.operators.text import _toks

    counts = (
        df.select(
            F.col(source_col).alias("g"),
            F.expr(f"size(filter({_toks(text_col)}, t -> t != ''))")
            .alias("n"),
        )
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_tokens"),
        )
    )
    w = df.sparkSession.createDataFrame(
        list(weights), "g string, weight double"
    )
    tot = Window.partitionBy()
    j = counts.join(F.broadcast(w), "g", "left").withColumn(
        "total_tokens", F.sum("n_tokens").over(tot)
    )
    target = F.col("total_tokens").cast("double") * F.coalesce(
        F.col("weight"), F.lit(0.0)
    )
    return j.select(
        F.col("g").alias(source_col),
        "n_docs",
        "n_tokens",
        F.coalesce(F.col("weight"), F.lit(0.0)).alias("weight"),
        target.alias("target_tokens"),
        (target / F.col("n_tokens").cast("double")).alias("epochs"),
    ).orderBy(source_col)


def quality_length_corr(
    df: DataFrame, source_col: str, id_col: str, text_col: str
) -> DataFrame:
    """P45 — metric-validation check: Pearson correlation between doc
    length and the F2 composite quality score, per source. A quality
    signal that correlates ~1 with raw length adds nothing over a
    length gate — this is the audit run before trusting any scored
    curation sweep.

    Exactness: quality doubles are the (oracle-green) F2 values;
    both variables quantize to integers; moments fold in
    DECIMAL(38,0); r lands on a 1e-9 grid (the >2^53 cast guard).

    Plan: the F2 map-only scan joined back on the id (one shuffle),
    then a per-source moment aggregate.
    """
    from icecube_spark.operators.text import quality_score

    q = quality_score(df, id_col, text_col).select(id_col, "quality")
    j = df.select(F.col(id_col), F.col(source_col).alias("g"),
                  F.col("n_chars")).join(q, id_col)
    dec = "decimal(38,0)"
    m = j.select(
        "g",
        F.col("n_chars").cast("bigint").alias("qx"),
        F.floor(F.col("quality") * F.lit(1e6)).cast("bigint").alias("qy"),
    ).groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("qx").cast(dec)).alias("sx"),
        F.sum(F.col("qy").cast(dec)).alias("sy"),
        F.sum(F.col("qx").cast(dec) * F.col("qx")).alias("sxx"),
        F.sum(F.col("qy").cast(dec) * F.col("qy")).alias("syy"),
        F.sum(F.col("qx").cast(dec) * F.col("qy")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    raw = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    r = F.floor(raw * F.lit(1e9)).cast("bigint").cast("double") / F.lit(1e9)
    return m.select(
        F.col("g").alias(source_col),
        F.col("n").cast("bigint").alias("n_docs"),
        r.alias("length_quality_r"),
    ).orderBy(source_col)


def mann_whitney_pairs(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """P47 — pairwise Mann–Whitney U between groups: for every group
    pair (a < b), the (doubled, exact-integer) U statistic, the
    tie-corrected z-score, and the rank-biserial effect size. The
    nonparametric "are these two sources drawn from the same length/
    quality distribution" test — the distribution-free complement to
    dow_anova's parametric F.

    Exactness: U folds from per-distinct-value counts as 2U (so tied
    half-ranks stay integer); z and the effect size are shape-
    mirrored double math over exact BIGINTs, quantized to a 1e-9
    grid. Degenerate pairs (zero rank variance) emit NULL z.

    Plan: one (group, value) count aggregate (vocab-sized), a
    broadcast nested-loop against the tiny group-pair list, a
    per-pair cumulative window over distinct values, one final
    aggregate to |pairs| rows. Linear in distinct values — the
    classic O(n log n) rank formulation, never the O(n²) pair walk.
    Group count is assumed catalog-small (pairs grow O(S²)).
    """
    counts = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    groups = counts.select(F.col(group_col).alias("g")).distinct()
    pairs = (
        groups.select(F.col("g").alias("ga"))
        .crossJoin(groups.select(F.col("g").alias("gb")))
        .where(F.col("ga") < F.col("gb"))
    )
    e = counts.join(
        F.broadcast(pairs),
        (F.col(group_col) == F.col("ga")) | (F.col(group_col) == F.col("gb")),
    )
    grid = e.groupBy("ga", "gb", value_col).agg(
        F.sum(F.when(F.col(group_col) == F.col("ga"), F.col("c")).otherwise(0))
        .alias("ca"),
        F.sum(F.when(F.col(group_col) == F.col("gb"), F.col("c")).otherwise(0))
        .alias("cb"),
    )
    w = (
        Window.partitionBy("ga", "gb")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grid.withColumn(
        "cumb", F.coalesce(F.sum("cb").over(w), F.lit(0))
    )
    t = F.col("ca") + F.col("cb")
    agg = cum.groupBy("ga", "gb").agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
        F.sum(F.col("ca") * (2 * F.col("cumb") + F.col("cb")))
        .cast("bigint")
        .alias("u2"),
        F.sum(t * t * t - t).cast("bigint").alias("tsum"),
    )
    nad = F.col("n_a").cast("double")
    nbd = F.col("n_b").cast("double")
    nd = (F.col("n_a") + F.col("n_b")).cast("double")
    td = F.col("tsum").cast("double")
    u2d = F.col("u2").cast("double")
    sigma2 = nad * nbd / F.lit(12.0) * (
        (nd + F.lit(1.0)) - td / (nd * (nd - F.lit(1.0)))
    )
    z = (u2d - nad * nbd) / F.lit(2.0) / F.sqrt(sigma2)
    effect = (u2d - nad * nbd) / (nad * nbd)
    return agg.select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        "n_a",
        "n_b",
        "u2",
        F.when(sigma2 > 0, F.floor(z * F.lit(1e9)) / F.lit(1e9)).alias("z"),
        (F.floor(effect * F.lit(1e9)) / F.lit(1e9)).alias("rank_biserial"),
    ).orderBy("group_a", "group_b")


def zorder_plan(
    df: DataFrame, key_a: str, key_b: str,
    bits: int = 8, file_buckets_shift: int = 8,
    probe_lo: int = 100, probe_hi: int = 140,
) -> DataFrame:
    """P49 — Z-order (Morton curve) layout planner: interleave the low
    `bits` of two join/filter keys, bucket rows into files by the
    curve position, and report per-file min/max zone maps plus
    whether a sample range predicate on key_a could PRUNE the file.
    The lakehouse data-layout primitive (Delta/Iceberg OPTIMIZE
    ZORDER): multi-column locality so zone maps prune on either key.

    Exactness: pure integer bit arithmetic (flat codegen expression,
    engine-portable); counts/extents are exact.

    Plan: one map-side projection computes the curve position, one
    bucket-key aggregate (≤2^`file_buckets_shift` rows). At 100 TB
    this IS the repartitionByRange write plan — the report is its
    zone-map dry run.
    """
    terms_a = " + ".join(
        f"(((CAST({key_a} AS BIGINT) >> {b}) & 1) << {2 * b})"
        for b in range(bits)
    )
    terms_b = " + ".join(
        f"(((CAST({key_b} AS BIGINT) >> {b}) & 1) << {2 * b + 1})"
        for b in range(bits)
    )
    z = F.expr(f"({terms_a}) + ({terms_b})")
    bucketed = df.select(
        F.shiftright(z, file_buckets_shift).cast("bigint").alias("bucket"),
        F.col(key_a).cast("bigint").alias("ka"),
        F.col(key_b).cast("bigint").alias("kb"),
    )
    g = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("ka").alias("min_a"),
        F.max("ka").alias("max_a"),
        F.min("kb").alias("min_b"),
        F.max("kb").alias("max_b"),
    )
    prunable = F.when(
        (F.col("max_a") < F.lit(probe_lo)) | (F.col("min_a") > F.lit(probe_hi)),
        1,
    ).otherwise(0)
    return g.select(
        "bucket",
        "n_rows",
        "min_a",
        "max_a",
        "min_b",
        "max_b",
        prunable.cast("int").alias("prunable_for_probe"),
    ).orderBy("bucket")


def bloom_filter_eval(
    df: DataFrame, id_col: str, text_col: str,
    m_bits: int = 262_144, k_hashes: int = 4,
) -> DataFrame:
    """P50 — Bloom-filter membership dry run for incremental dedup:
    build an m-bit / k-hash Bloom set from the base half of the
    corpus (hash-split), probe the delta half, and report the
    measured false-positive rate against exact digest membership.
    The sizing report you run BEFORE wiring a Bloom pre-filter in
    front of the D10 incremental-dedup index — it tells you whether
    m/k hold the FPR at your delta rate.

    Exactness: bit positions are md5-derived integers (cross-engine);
    membership and truth are exact set joins; FPR divides exact
    counts.

    Plan: the bit set is relational (one row per DISTINCT set bit —
    ≤ m rows, vocab-scale, broadcastable); probes explode to k
    position rows and semi-join the bit set; truth is one digest
    join. No bitmap ever materializes on one node.
    """
    from icecube_spark.functions.hashing import spark_hex2int

    norm = "regexp_replace(lower(trim({c})), '\\\\s+', ' ')".format(c=text_col)
    base = df.select(
        F.col(id_col).alias("id"), F.md5(F.expr(norm)).alias("digest")
    ).withColumn("is_base", F.expr(f"{spark_hex2int('cast(id as string)')} % 2 = 0"))
    pos_arr = F.array(
        *[
            F.expr(spark_hex2int(f"concat(digest, '|', {i})"))
            % F.lit(m_bits)
            for i in range(k_hashes)
        ]
    )
    bits = (
        base.where("is_base")
        .select(F.explode(pos_arr).alias("bit"))
        .distinct()
    )
    base_digests = base.where("is_base").select("digest").distinct()
    probes = base.where(~F.col("is_base")).select(
        "id", "digest", F.posexplode(pos_arr).alias("k", "bit")
    )
    hits = (
        probes.join(bits.withColumn("hit", F.lit(1)), "bit", "left")
        .groupBy("id", "digest")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"))
        .withColumn("bloom_pos", (F.col("n_hit") == k_hashes).cast("int"))
    )
    truth = hits.join(
        base_digests.withColumn("true_dup", F.lit(1)), "digest", "left"
    ).select(
        "id",
        "bloom_pos",
        F.coalesce(F.col("true_dup"), F.lit(0)).alias("true_dup"),
    )
    n_bits = bits.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("n_set_bits"))
    agg = truth.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum("bloom_pos").cast("bigint").alias("n_bloom_positive"),
        F.sum("true_dup").cast("bigint").alias("n_true_dup"),
        F.sum(
            F.when((F.col("bloom_pos") == 1) & (F.col("true_dup") == 0), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_false_positive"),
    )
    return agg.crossJoin(F.broadcast(n_bits)).select(
        "n_probes",
        "n_bloom_positive",
        "n_true_dup",
        "n_false_positive",
        "n_set_bits",
        (F.col("n_set_bits").cast("double") / F.lit(float(m_bits))).alias(
            "fill_ratio"
        ),
        F.when(
            (F.col("n_probes") - F.col("n_true_dup")) > 0,
            F.col("n_false_positive").cast("double")
            / (F.col("n_probes") - F.col("n_true_dup")).cast("double"),
        ).alias("fpr"),
    )


def cdf_between_lookup(
    target: DataFrame,
    rk_col: str,
    cdf: DataFrame,
    lo_col: str = "cum_lo",
    hi_col: str = "cum_hi",
) -> DataFrame:
    """Equi-bucketed inverse-CDF lookup: attach to each target row the
    cdf row whose cumulative range (lo, hi] covers its rank.

    A direct inequality join against the broadcast cdf plans as a
    BroadcastNestedLoopJoin — |target|·|cdf| predicate evaluations
    (cube_hist_match at sf0.1: 20k × 9.8k ≈ 200M, ~55% of the key's
    wall). Bucketing the rank axis at the mean range width turns it
    into an equi-join + exact between filter: the cdf side explodes
    each range onto the buckets it spans (Σ spans ≈ 2·|cdf| rows), the
    target computes ONE bucket id, and the hash probe sees ~2
    candidates per row instead of |cdf|. Matches are bit-identical:
    the bucket key is implied by the between condition, which is
    re-applied verbatim.

    ``cdf`` must be distinct-value-bounded (it is broadcast either
    way); it is materialized here so its lineage runs once, not once
    per consumer (bucket-size scalar + exploded side).
    """
    m = (
        cdf.withColumn(
            "__bsz",
            F.expr(
                f"greatest(CAST(1 AS BIGINT),"
                f" (max({hi_col}) over ()) div (count(1) over ()))"
            ),
        )
    ).transform(materialize)
    buckets = m.withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.expr(f"{lo_col} div __bsz"),
                F.expr(f"({hi_col} - 1) div __bsz"),
            )
        ),
    ).drop("__bsz")
    bsz = m.groupBy().agg(F.max("__bsz").alias("__bsz"))
    t = (
        target.crossJoin(F.broadcast(bsz))
        .withColumn("__b", F.expr(f"({rk_col} - 1) div __bsz"))
        .drop("__bsz")
    )
    return (
        t.join(F.broadcast(buckets), "__b")
        .where(
            (F.col(rk_col) > F.col(lo_col)) & (F.col(rk_col) <= F.col(hi_col))
        )
        .drop("__b")
    )


def quantile_normalize(
    df: DataFrame, id_col: str, group_col: str, value_col: str
) -> DataFrame:
    """P51 — quantile normalization across groups: map every value
    onto the POOLED empirical distribution at the same within-group
    quantile, so each source's length/quality profile becomes
    comparable (the batch-effect correction step before cross-source
    thresholding — a per-source p90 means the same thing afterward).

    Exactness: within-group ranks and the pooled inverse-CDF lookup
    are pure integer arithmetic (integer-division rank scaling, no
    interpolation).

    Plan: per-group ranks ride group-partitioned windows; the pooled
    CDF is DISTINCT-VALUE-sized (vocab scale), broadcast for the
    between lookup — the corpus itself never globally sorts.
    """
    vals = df.select(
        F.col(id_col), F.col(group_col), F.col(value_col).alias("v")
    )
    # per-group ranks via the keyed distributed_rank — bit-identical
    # to the group-partitioned window the oracle uses, without holding
    # a whole group's corpus-grain rows in one task
    ranked = distributed_rank(
        vals, ["v", id_col], rank_col="r", n_col="ns", key_cols=[group_col]
    ).withColumn("r", F.col("r").cast("bigint"))
    pooled = (
        vals.groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .select(
            "v",
            F.sum("c")
            .over(Window.partitionBy().orderBy("v").rowsBetween(
                Window.unboundedPreceding, 0))
            .alias("cum"),
            F.sum("c").over(Window.partitionBy()).alias("n_total"),
        )
        .select(
            F.col("v").alias("pv"),
            F.col("cum").alias("cum_hi"),
            F.coalesce(
                F.lag("cum").over(Window.partitionBy().orderBy("v")), F.lit(0)
            ).alias("cum_lo"),
        )
    )
    totals = vals.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    target = ranked.crossJoin(F.broadcast(totals)).withColumn(
        "rk_pool",
        F.expr("(r * n_total + ns - 1) div ns"),
    )
    joined = cdf_between_lookup(target, "rk_pool", pooled)
    return joined.select(
        id_col,
        group_col,
        F.col("v").alias("value"),
        F.col("pv").alias("qnorm_value"),
    ).orderBy(id_col)


def connected_components_fast(
    pairs: DataFrame, a_col: str, b_col: str, max_iter: int = 25
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    edge rewiring (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond") — provably O(log² n) rounds, ~8 in
    practice on grid masks. The plain P6 min-label propagation is
    right for near-dup clusters (diameter 2-3) but needs O(diameter)
    rounds on spatially contiguous blobs (A35 masks run hundreds of
    cells across), and naive pointer-jumping hybrids plateau.
    Each round ends in an eager localCheckpoint (lineage truncated; the
    iterative-plan buildup otherwise exhausts the driver) and costs
    two node-key aggregates plus two distinct passes over the
    edge-bounded frame. Convergence is an edge-set fixpoint checked
    with a left-anti limit-1 count — nothing collects but scalars.

    large-star: every neighbor v > u rewires to u's neighborhood min;
    small-star: every neighbor v ≤ u (and u) rewires to the min of
    u's small neighborhood. Fixpoint = disjoint stars centered at
    component minima; the label is least(min neighbor, self).
    """
    def sym(ed):
        return ed.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            ed.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    def large_star(ed):
        s = sym(ed)
        m = s.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            s.where(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(ed):
        s = sym(ed).where(F.col("v") < F.col("u"))
        m = s.groupBy("u").agg(F.min("v").alias("m"))
        sm = s.join(m, "u")
        return (
            sm.select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(sm.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    edges = (
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize)
    )
    nodes = sym(edges).select(F.col("u").alias("node")).distinct().transform(materialize)
    for _ in range(max_iter):
        new = small_star(large_star(edges)).transform(materialize)
        changed = (
            new.join(
                edges, (new.a == edges.a) & (new.b == edges.b), "left_anti"
            )
            .limit(1)
            .count()
        )
        edges = new
        if changed == 0:
            break
    centers = sym(edges).groupBy("u").agg(F.min("v").alias("mn"))
    labels = (
        nodes.join(centers.select(F.col("u").alias("node"), "mn"), "node", "left")
        .select(
            "node",
            F.least(F.coalesce(F.col("mn"), F.col("node")), F.col("node")).alias(
                "label"
            ),
        )
    )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


def table_diff(
    v1: DataFrame, v2: DataFrame, key_col: str, cols: list[str]
) -> DataFrame:
    """P52 — table version diff ("data-diff"): full-outer compare of
    two snapshots on a key, reporting added/removed/changed/unchanged
    row counts plus per-column change counts. The regression gate for
    any pipeline rewrite: "same output, except these N rows, and the
    drift is all in column X".

    Exactness: pure null-safe comparisons and exact counts.

    Plan: ONE full-outer join on the key; one global aggregate.
    Column comparisons are codegen projections. Presence can't be
    read off data columns (an all-null row would look absent), so
    each side carries a constant presence marker INTO the join — the
    old shape derived presence from a second key-only outer join and
    re-attached it with a third join, scanning each snapshot twice
    and shuffling the key three times for the same bits (guide §2.4:
    remove shuffles outright).
    """
    a = v1.select(
        F.col(key_col).alias("k"),
        F.lit(1).alias("in_a"),
        *[F.col(c).alias(f"a_{c}") for c in cols],
    )
    b = v2.select(
        F.col(key_col).alias("k"),
        F.lit(1).alias("in_b"),
        *[F.col(c).alias(f"b_{c}") for c in cols],
    )
    j = a.join(b, "k", "full_outer")
    col_changed = [
        (~F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}"))).cast("int").alias(f"chg_{c}")
        for c in cols
    ]
    f2 = j.select(
        "k",
        F.coalesce(F.col("in_a"), F.lit(0)).alias("in_a"),
        F.coalesce(F.col("in_b"), F.lit(0)).alias("in_b"),
        *col_changed,
    )
    any_chg = sum(
        [F.col(f"chg_{c}") for c in cols], F.lit(0)
    )
    status = (
        F.when(F.col("in_a") == 0, F.lit("added"))
        .when(F.col("in_b") == 0, F.lit("removed"))
        .when(any_chg > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    both = (F.col("in_a") == 1) & (F.col("in_b") == 1)
    return f2.select(status.alias("status"), both.alias("both"), *[
        F.col(f"chg_{c}") for c in cols
    ]).groupBy().agg(
        F.sum(F.when(F.col("status") == "added", 1).otherwise(0))
        .cast("bigint").alias("n_added"),
        F.sum(F.when(F.col("status") == "removed", 1).otherwise(0))
        .cast("bigint").alias("n_removed"),
        F.sum(F.when(F.col("status") == "changed", 1).otherwise(0))
        .cast("bigint").alias("n_changed"),
        F.sum(F.when(F.col("status") == "unchanged", 1).otherwise(0))
        .cast("bigint").alias("n_unchanged"),
        *[
            F.sum(F.when(F.col("both"), F.col(f"chg_{c}")).otherwise(0))
            .cast("bigint")
            .alias(f"n_changed_{c}")
            for c in cols
        ],
    )


def stratified_kfold(
    df: DataFrame, id_col: str, strata_col: str, k: int = 5
) -> DataFrame:
    """P53 — deterministic stratified k-fold audit: hash-assign every
    row to a fold, then report each fold's size and its χ² balance
    statistic against the global strata distribution. The CV-split
    sanity check — a fold whose language mix drifts from the corpus
    silently biases every metric computed on it.

    Exactness: md5 fold assignment is cross-engine; χ² folds from
    exact counts in shape-mirrored double math on a 1e-9 grid.

    Plan: one (fold, strata) count aggregate (≤ k·|strata| rows);
    everything else runs on that tiny frame.
    """
    from icecube_spark.functions.hashing import spark_hex2int

    assigned = df.select(
        F.expr(
            f"{spark_hex2int(f'cast({id_col} as string)')} % {k}"
        ).alias("fold"),
        F.col(strata_col).alias("s"),
    )
    g = assigned.groupBy("fold", "s").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wall = Window.partitionBy()
    wf = Window.partitionBy("fold")
    ws = Window.partitionBy("s")
    m = g.select(
        "fold",
        "s",
        "c",
        F.sum("c").over(wf).alias("n_fold"),
        F.sum("c").over(ws).alias("n_s"),
        F.sum("c").over(wall).alias("n_total"),
    )
    exp = (
        F.col("n_fold").cast("double")
        * F.col("n_s").cast("double")
        / F.col("n_total").cast("double")
    )
    term = (F.col("c").cast("double") - exp) * (F.col("c").cast("double") - exp) / exp
    return (
        m.withColumn("tq", F.floor(term * F.lit(1e9)).cast("bigint"))
        .groupBy("fold")
        .agg(
            F.max("n_fold").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_strata"),
            (F.sum("tq").cast("double") / F.lit(1e9)).alias("chi2"),
        )
        .orderBy("fold")
    )


def k_anonymity(df: DataFrame, qi_cols: list[str]) -> DataFrame:
    """P54 — k-anonymity audit over a quasi-identifier tuple: the
    distribution of equivalence-class sizes and the share of rows
    re-identifiable below k=5. The privacy gate run BEFORE releasing
    any "anonymized" extract — unique (lang, source, length) tuples
    are fingerprints.

    Exactness: pure integer counts; the share divides exact ints.

    Plan: one QI-tuple aggregate (map-side combined), one ≤4-row
    bucket rollup; the corpus shuffles once on the QI key.
    """
    g = df.groupBy(*qi_cols).agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    bucket = (
        F.when(F.col("k") == 1, F.lit("1"))
        .when(F.col("k") <= 4, F.lit("2-4"))
        .when(F.col("k") <= 9, F.lit("5-9"))
        .otherwise(F.lit("10+"))
    )
    wall = Window.partitionBy()
    b = g.select(bucket.alias("k_bucket"), "k").groupBy("k_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("k").cast("bigint").alias("n_rows"),
    )
    return b.select(
        "k_bucket",
        "n_classes",
        "n_rows",
        (
            F.col("n_rows").cast("double")
            / F.sum("n_rows").over(wall).cast("double")
        ).alias("row_share"),
    ).orderBy("k_bucket")


def packing_curve(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    sizes: tuple = (256, 512, 1024, 2048),
) -> DataFrame:
    """P56 — sequence-packing efficiency curve: for each candidate
    context length, the bin count, mean fill, and padding-waste share
    of the P24 contiguous layout. The table that picks the training
    context length — doubling it halves the bin count only if the
    docs actually fill it.

    Exactness: offsets/bins are INT64 arithmetic; fill ratios divide
    exact token counts.

    Plan: token counts and the per-group offset window compute ONCE;
    each candidate size is one more tiny (group, bin) aggregate over
    the same exchange, rolled up to |sizes| rows.
    """
    toks = df.select(
        F.col(group_col).alias("source"),
        F.col(id_col),
        F.size(F.split(F.expr(normalized_expr(text_col)), " "))
        .cast("bigint")
        .alias("n_tokens"),
    )
    # keyed distributed_cumsum (exclusive prefix) — same funnel-free
    # shape as sequence_packing; the candidate sizes all reuse it
    off = (
        distributed_cumsum(
            toks, [id_col], "n_tokens", cum_col="__cum", key_cols=["source"]
        )
        .withColumn(
            # coalesce: the window form this replaces skipped a NULL
            # token count (offset = prefix sum), it did not null the bin
            "offset", F.col("__cum") - F.coalesce(F.col("n_tokens"), F.lit(0))
        )
        .drop("__cum")
    )
    outs = []
    for size in sizes:
        per_bin = (
            off.select(
                "source",
                F.floor(F.col("offset") / size).cast("bigint").alias("bin"),
                "n_tokens",
            )
            .groupBy("source", "bin")
            .agg(F.sum("n_tokens").alias("bin_tokens"))
        )
        outs.append(
            per_bin.groupBy().agg(
                F.lit(size).cast("int").alias("context_len"),
                F.count(F.lit(1)).cast("bigint").alias("n_bins"),
                F.sum("bin_tokens").cast("bigint").alias("total_tokens"),
                F.sum(F.least(F.col("bin_tokens"), F.lit(size)))
                .cast("bigint")
                .alias("filled_capacity"),
            )
        )
    cur = outs[0]
    for o in outs[1:]:
        cur = cur.unionAll(o)
    return cur.select(
        "context_len",
        "n_bins",
        "total_tokens",
        (
            F.col("filled_capacity").cast("double")
            / (F.col("n_bins").cast("double") * F.col("context_len").cast("double"))
        ).alias("fill_ratio"),
    ).orderBy("context_len")


def erasure_impact(
    events: DataFrame, orders: DataFrame, user_ids: DataFrame
) -> DataFrame:
    """P55 — right-to-erasure impact report: given a deletion request
    list of user ids, the affected row counts and share per table.
    The GDPR/CCPA dry run every data platform executes before the
    actual delete — it sizes the rewrite and flags tables where the
    request touches a material share.

    Exactness: exact counts; shares divide them.

    Plan: the request list is request-sized — broadcast semi-joins
    against each fact table, one counting aggregate per table,
    unioned to |tables| rows. No fact table shuffles.
    """
    ev_hit = events.join(
        F.broadcast(user_ids), events.user_id == user_ids.uid, "left_semi"
    )
    ord_hit = orders.join(
        F.broadcast(user_ids), orders.o_custkey == user_ids.uid, "left_semi"
    )
    ev_row = ev_hit.groupBy().agg(
        F.lit("events").alias("table_name"),
        F.count(F.lit(1)).cast("bigint").alias("n_affected"),
    ).crossJoin(
        events.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    )
    ord_row = ord_hit.groupBy().agg(
        F.lit("orders").alias("table_name"),
        F.count(F.lit(1)).cast("bigint").alias("n_affected"),
    ).crossJoin(
        orders.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    )
    return (
        ev_row.unionAll(ord_row)
        .select(
            "table_name",
            "n_affected",
            "n_total",
            (
                F.col("n_affected").cast("double")
                / F.col("n_total").cast("double")
            ).alias("affected_share"),
        )
        .orderBy("table_name")
    )


def quality_reliability(
    df: DataFrame, id_col: str, text_col: str, n_bins: int = 10
) -> DataFrame:
    """P58 — score-vs-rule reliability diagram: bin documents into
    quality-score deciles (F2's composite score) and report, per
    bin, how often the Gopher rule gate (F7) agrees. A monotone
    keep_rate curve means the continuous score can replace the rule
    stack with a single threshold; a flat or jagged one means the
    score is miscalibrated on this corpus. The eval every team runs
    before swapping filters at 100 TB.

    Exactness: both score and gate are the F2/F7 integer-ratio
    expressions; decile cuts come from the distributed prefix-sum
    (no global sort) and bin membership is a strict < compare; the
    mean quality folds floor(q*1e9) BIGINTs (the davg decimal cast
    hits its tie-rounding hazard on this column at sf0.1) with one
    single-division readout.

    Plan: one scan computes score+flag map-side; cuts need one
    histogram shuffle + tiny prefix sum; assignment broadcasts the
    9-value cut list; the final aggregate has n_bins groups.
    """
    from icecube_spark.operators.text import NORM, STOPWORDS

    norm = NORM.format(col=text_col)
    toks = f"split({norm}, ' ')"
    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_words = F.expr(f"size({toks})")
    n_chars = F.expr(f"length({norm})")
    alpha = F.expr(f"length(regexp_replace({norm}, '[^a-z]', ''))")
    stop_hits = F.expr(f"size(filter({toks}, t -> t IN ({stops})))")
    awl = F.expr(f"length(replace({norm}, ' ', '')) / size({toks})")
    n_sym = F.expr(f"size(regexp_extract_all({norm}, '#|\\\\.\\\\.\\\\.', 0))")
    n_stop_d = F.expr(
        f"size(array_intersect(array_distinct({toks}), array({stops})))"
    )
    quality = (
        0.3 * F.least(n_words / 100.0, F.lit(1.0))
        + 0.3 * (stop_hits / n_words)
        + 0.2 * (alpha / n_chars)
        + 0.2 * F.least(awl / 10.0, F.lit(1.0))
    )
    keep = (
        n_words.between(10, 100000)
        & awl.between(2.0, 10.0)
        & ((n_sym / n_words) < 0.1)
        & (n_stop_d >= 2)
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        quality.alias("quality"),
        keep.cast("int").alias("keep"),
    )
    cuts = distributed_depth_cuts(base, "quality", n_bins)
    binned = base.crossJoin(F.broadcast(cuts)).select(
        F.size(F.filter("cut_list", lambda c: c < F.col("quality")))
        .cast("int")
        .alias("bin"),
        "quality",
        "keep",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("keep").cast("bigint").alias("n_keep"),
            (F.sum("keep").cast("double") / F.count(F.lit(1))).alias(
                "keep_rate"
            ),
            (
                F.sum(
                    F.floor(F.col("quality") * F.lit(1e9)).cast("bigint")
                ).cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1e9))
            ).alias("mean_quality"),
        )
        .orderBy("bin")
    )


def dedup_cost_model(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """P60 — dedup blocking-cost planner: for three blocking schemes
    (exact normalized hash, 32-char prefix, length bucket) report
    bucket count, the candidate-pair bill sum C(b,2), and the worst
    bucket. The back-of-envelope every dedup campaign runs FIRST:
    candidate pairs — not documents — are what you pay for at
    100 TB, and a scheme whose worst bucket is quadratic-sized is
    vetoed here before any join runs.

    Exactness: all outputs are exact integer counts.

    Plan: three key-count shuffles over one scan projection; each
    report row is a tiny re-aggregate of its bucket histogram.
    """
    from icecube_spark.operators.dedup import NORM

    norm = NORM.format(col=text_col)
    base = df.select(
        F.md5(F.expr(norm)).alias("exact_key"),
        F.expr(f"substring({norm}, 1, 32)").alias("prefix_key"),
        F.floor(F.length(F.expr(norm)) / F.lit(64)).cast("bigint").alias("len_key"),
    )
    out = None
    for method, key in (
        ("exact_hash", "exact_key"),
        ("prefix_32", "prefix_key"),
        ("length_64", "len_key"),
    ):
        hist = base.groupBy(F.col(key)).agg(F.count(F.lit(1)).alias("b"))
        rep = hist.agg(
            F.lit(method).alias("method"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum(F.expr("(b * (b - 1)) div 2")).cast("bigint").alias(
                "candidate_pairs"
            ),
            F.max("b").cast("bigint").alias("max_bucket"),
        )
        out = rep if out is None else out.unionAll(rep)
    return out.orderBy("method")


def token_budget_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    budget_tokens: int = 600,
) -> DataFrame:
    """P61 — greedy quality-per-token selection under a fixed token
    budget per group: rank documents by lexical-diversity score
    (distinct-token ratio, the density heuristic), keep them while
    the group's running token count stays within budget, and report
    the kept-vs-all funnel. The knapsack-style curation step every
    token-budgeted pretraining mix runs after quality gating —
    complement of P22's temperature resampling (which reweights; this
    SELECTS under a hard budget).

    Exactness: token and distinct-token counts are exact ints; the
    score quantizes to floor(1e6·distinct/tokens); the greedy cut is
    a deterministic (score desc, id) running sum of ints; readout
    shares and means are fixed-order divisions of exact ints.

    Plan: per-doc scoring is map-only array work (no explode, no
    shuffle); the greedy cut is a keyed distributed_cumsum
    (range-partition on (group, score desc, id), local prefix sums,
    broadcast offsets) — bit-identical to the per-group running-sum
    window but a handful-valued group key never serializes its whole
    corpus-grain doc slice into one task (r8 funnel sweep); the
    report is one partial-agg shuffle of |groups| rows.
    """
    toks = f"split(trim({text_col}), '\\\\s+')"
    scored = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        F.expr(f"size({toks})").cast("bigint").alias("n_tok"),
        F.floor(
            F.lit(1e6)
            * F.expr(f"size(array_distinct({toks}))").cast("double")
            / F.expr(f"size({toks})").cast("double")
        )
        .cast("bigint")
        .alias("score_q"),
    )
    flagged = distributed_cumsum(
        scored,
        [F.col("score_q").desc(), F.col("id").asc()],
        "n_tok",
        cum_col="__cum",
        key_cols=["grp"],
    ).select(
        "grp",
        "n_tok",
        "score_q",
        (F.col("__cum") <= F.lit(budget_tokens)).alias("kept"),
    )
    kept_i = F.when(F.col("kept"), F.lit(1)).otherwise(F.lit(0))
    rep = flagged.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(kept_i).cast("bigint").alias("docs_kept"),
        F.sum("n_tok").alias("tokens_total"),
        F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(F.lit(0))).alias(
            "tokens_kept"
        ),
        F.sum(F.when(F.col("kept"), F.col("score_q")).otherwise(F.lit(0))).alias(
            "ks"
        ),
        F.sum("score_q").alias("ts"),
    )
    return rep.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "docs_kept",
        "tokens_total",
        "tokens_kept",
        (
            F.col("tokens_kept").cast("double")
            / F.col("tokens_total").cast("double")
        ).alias("token_share"),
        (
            F.col("ks").cast("double")
            / F.col("docs_kept").cast("double")
            / F.lit(1e6)
        ).alias("mean_score_kept"),
        (
            F.col("ts").cast("double")
            / F.col("n_docs").cast("double")
            / F.lit(1e6)
        ).alias("mean_score_all"),
    )


def length_filter_tuning(
    df: DataFrame,
    len_col: str,
    thresholds: tuple = (100, 200, 300, 400, 600),
) -> DataFrame:
    """P62 — retention curve across minimum-length gates: for each
    candidate threshold, how many documents and what share of the
    corpus (docs AND characters) survive `len >= T`. The tuning
    readout run BEFORE committing a length filter — the
    gate-calibration sibling of E15's dedup threshold curve.

    Exactness: counts/sums are exact ints; shares are single
    divisions.

    Plan: one explode of the fixed threshold array over the
    length projection (fanout = |thresholds|), one partial-agg
    shuffle of |thresholds| groups, plus a broadcast 1-row total.
    """
    tarr = F.array(*[F.lit(int(t)) for t in thresholds])
    tot = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_docs"),
        F.sum(F.col(len_col)).cast("bigint").alias("total_len"),
    )
    per = (
        df.select(F.col(len_col).alias("ln"), F.explode(tarr).alias("threshold"))
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when(F.col("ln") >= F.col("threshold"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("docs_kept"),
            F.sum(
                F.when(F.col("ln") >= F.col("threshold"), F.col("ln")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("len_kept"),
        )
    )
    return (
        per.join(F.broadcast(tot))
        .select(
            F.col("threshold").cast("int").alias("threshold"),
            "docs_kept",
            (
                F.col("docs_kept").cast("double")
                / F.col("total_docs").cast("double")
            ).alias("doc_share"),
            "len_kept",
            (
                F.col("len_kept").cast("double")
                / F.col("total_len").cast("double")
            ).alias("len_share"),
        )
        .orderBy("threshold")
    )


def cross_shard_dup_rate(
    df: DataFrame, text_col: str, shard_exprs: dict[str, F.Column]
) -> DataFrame:
    """P63 — do the sharding schemes colocate near-duplicates? Keyed
    on the 8-token boilerplate prefix (the D14 dup signal), every
    dup group of size g contributes C(g,2) pairs; a pair is
    SAME-shard when both members land in one shard. A high cross-
    shard share means shard-local dedup (the cheap shortcut) would
    miss most duplicates and the global dedup join is load-bearing —
    the planning readout run before choosing a dedup topology.

    Exactness: pure integer pair counting (g*(g-1)/2 with g even/odd
    exact under integer floor-div in both engines via (g*(g-1))/2 on
    BIGINT); the share is one division.

    Plan: per scheme, ONE (key, shard) partial-agg shuffle then a
    key-bounded re-aggregate — pairs are counted combinatorially,
    never enumerated, so a million-member template group costs one
    row, not 10^12 pairs.
    """
    key = F.expr(
        f"concat_ws(' ', slice(split(trim({text_col}), '\\\\s+'), 1, 8))"
    )
    out = None
    for name, sh in shard_exprs.items():
        per = (
            df.select(key.alias("k"), sh.alias("sh"))
            .groupBy("k", "sh")
            .agg(F.count(F.lit(1)).cast("bigint").alias("s"))
        )
        perk = per.groupBy("k").agg(
            F.sum("s").alias("g"),
            F.sum((F.col("s") * (F.col("s") - 1)) / F.lit(2))
            .cast("bigint")
            .alias("same_k"),
        ).where(F.col("g") >= 2)
        rep = perk.agg(
            F.count(F.lit(1)).cast("bigint").alias("dup_groups"),
            F.sum((F.col("g") * (F.col("g") - 1)) / F.lit(2))
            .cast("bigint")
            .alias("total_pairs"),
            F.sum("same_k").cast("bigint").alias("same_shard_pairs"),
        ).select(
            F.lit(name).alias("scheme"),
            "dup_groups",
            "total_pairs",
            "same_shard_pairs",
            (
                (F.col("total_pairs") - F.col("same_shard_pairs")).cast(
                    "double"
                )
                / F.col("total_pairs").cast("double")
            ).alias("cross_share"),
        )
        out = rep if out is None else out.unionAll(rep)
    return out.orderBy("scheme")


def sample_size_planner(
    df: DataFrame,
    group_col: str,
    pass_col,
    z: float = 1.96,
    margin: float = 0.03,
) -> DataFrame:
    """P64 — audit-sample sizing per group: given each group's
    observed quality-gate pass rate, the sample size needed to
    estimate that rate within ±margin at the z confidence level
    (n0 = z²p(1-p)/e²) with finite-population correction
    n = n0/(1+(n0-1)/N). The "how many docs must a human (or LLM
    judge) look at per source" planning readout behind every
    curation QA loop.

    Exactness: counts are exact ints; p is one division; the sizing
    formula is a fixed-order double chain ending in a ceil both
    engines compute identically.

    Plan: one |groups|-row aggregate over a boolean projection —
    single corpus pass, no joins.
    """
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(pass_col, F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_pass"),
    )
    p = F.col("n_pass").cast("double") / F.col("n_docs").cast("double")
    # p(1-p) as ONE exact-int ratio: a zz*p*(1-p) multiply chain gets
    # reassociated by Catalyst (constants grouped first) and drifts a
    # ulp from the oracle's left-assoc parse.
    pq = (F.col("n_pass") * (F.col("n_docs") - F.col("n_pass"))).cast(
        "double"
    ) / (F.col("n_docs") * F.col("n_docs")).cast("double")
    n0 = F.lit(z * z) * pq / F.lit(margin * margin)
    nn = F.col("n_docs").cast("double")
    n_fpc = n0 / (F.lit(1.0) + (n0 - F.lit(1.0)) / nn)
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        p.alias("pass_rate"),
        n0.alias("n_infinite"),
        F.ceil(n_fpc).cast("bigint").alias("sample_needed"),
        (F.ceil(n_fpc) / nn).alias("sampling_frac"),
    ).orderBy(group_col)


def split_stratification_check(
    df: DataFrame, id_col: str, stratum_col: str
) -> DataFrame:
    """P65 — is the hash split BALANCED across strata? For every
    (split, stratum) cell: observed count, expected count under
    independence, the standardized residual, and the split's total
    chi-square. A split can pass P23's leakage check and still be
    skewed (one source over-represented in test); this is the
    balance audit run beside it.

    Exactness: counts are exact ints; expected = split_n*stratum_n/N
    is a fixed-order exact-int double chain; residual/chi2 terms
    quantize to a 1e-9 grid before the per-split integer fold.

    Plan: one (split, stratum) aggregate; margins via windows over
    the splits-x-strata-bounded cell table.
    """
    assigned = train_test_split(df, id_col)
    cells = assigned.groupBy(
        F.col("split"), F.col(stratum_col).alias("stratum")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    ws = Window.partitionBy("split")
    wt = Window.partitionBy("stratum")
    wa = Window.partitionBy()
    cells = (
        cells.withColumn("split_n", F.sum("obs").over(ws))
        .withColumn("strat_n", F.sum("obs").over(wt))
        .withColumn("nn", F.sum("obs").over(wa))
    )
    exp = (
        F.col("split_n").cast("double")
        * F.col("strat_n").cast("double")
        / F.col("nn").cast("double")
    )
    resid = (F.col("obs").cast("double") - exp) / F.sqrt(exp)
    qchi = F.floor(resid * resid * F.lit(1e9)).cast("bigint")
    out = cells.withColumn("expected", exp).withColumn(
        "std_residual", resid
    ).withColumn("qchi", qchi)
    chi = out.withColumn(
        "chi2",
        F.sum("qchi").over(ws).cast("double") / F.lit(1e9),
    )
    return chi.select(
        "split", "stratum", "obs", "expected", "std_residual", "chi2"
    ).orderBy("split", "stratum")


def retention_policy_matrix(
    df: DataFrame, id_col: str, text_col: str, len_col: str
) -> DataFrame:
    """P66 — dedup survivorship POLICY comparison: group docs by the
    8-token boilerplate prefix (the D14 dup key) and, for three
    keep-one-representative rules (first-by-id, longest, densest by
    distinct-token ratio), report docs/tokens retained and the mean
    density of what survives. P26 executes one golden-record rule;
    this is the side-by-side that justifies WHICH rule, before any
    destructive collapse runs.

    Exactness: winners come from a rank window with a fully
    deterministic (policy sort key, id) order; retained counts are
    exact ints; means are single divisions.

    Plan: per-doc scoring is map-only; ONE rank window over
    (policy, group) partitions (groups are prefix-cluster-sized);
    the report is a 3-row aggregate.
    """
    toks = f"split(trim({text_col}), '\\\\s+')"
    key = F.expr(f"concat_ws(' ', slice({toks}, 1, 8))")
    scored = df.select(
        F.col(id_col).alias("id"),
        key.alias("k"),
        F.col(len_col).alias("ln"),
        F.expr(f"size({toks})").cast("bigint").alias("n_tok"),
        F.floor(
            F.lit(1e6)
            * F.expr(f"size(array_distinct({toks}))").cast("double")
            / F.expr(f"size({toks})").cast("double")
        )
        .cast("bigint")
        .alias("score_q"),
    )
    pols = F.array(
        F.lit("keep_first"), F.lit("keep_longest"), F.lit("keep_densest")
    )
    fan = scored.select(
        "id", "k", "ln", "n_tok", "score_q", F.explode(pols).alias("policy")
    ).withColumn(
        "o1",
        F.when(F.col("policy") == "keep_first", F.lit(0))
        .when(F.col("policy") == "keep_longest", -F.col("ln"))
        .otherwise(-F.col("score_q")),
    )
    w = Window.partitionBy("policy", "k").orderBy("o1", "id")
    reps = fan.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    tot = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_before"),
        F.sum("n_tok").cast("bigint").alias("tokens_before"),
    )
    return (
        reps.groupBy("policy")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs_after"),
            F.sum("n_tok").cast("bigint").alias("tokens_after"),
            F.sum("score_q").alias("sq"),
        )
        .join(F.broadcast(tot))
        .select(
            "policy",
            "docs_before",
            "docs_after",
            "tokens_before",
            "tokens_after",
            (
                F.col("tokens_after").cast("double")
                / F.col("tokens_before").cast("double")
            ).alias("token_share"),
            (
                F.col("sq").cast("double")
                / F.col("docs_after").cast("double")
                / F.lit(1e6)
            ).alias("mean_density_after"),
        )
        .orderBy("policy")
    )


def neyman_allocation(
    df: DataFrame, stratum_col: str, size_col: str, budget: int = 1000
) -> DataFrame:
    """P68 — optimal audit-budget allocation across strata: Neyman
    allocation puts sample mass where N_h·S_h is largest (stratum
    size x within-stratum std of `size_col`), vs the naive
    proportional split. P64 sizes each stratum independently; this
    splits ONE fixed labeling/audit budget across all of them — the
    difference between the two plans is exactly the over-sampling a
    variance-aware curator buys in the noisy strata.

    Exactness: per-stratum std folds exact integer moments; the
    allocation weights are micro-quantized before the global
    normalizing sum, so both engines divide identical integers
    (integer div — no float rounding at bucket boundaries).

    Plan: one stratum aggregate; the normalizing window runs over
    one row per stratum.
    """
    mom = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col(size_col).cast("bigint")).alias("sx"),
        F.sum(
            F.col(size_col).cast("decimal(38,0)") * F.col(size_col)
        ).alias("sxx"),
    )
    n = F.col("n_docs").cast("double")
    sig = (
        F.sqrt(
            F.greatest(
                n * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double"),
                F.lit(0.0),
            )
        )
        / n
    )
    weighted = mom.select(
        "stratum",
        "n_docs",
        sig.alias("std_size"),
        F.floor(n * sig * F.lit(1e6)).cast("bigint").alias("wq"),
    )
    wall = Window.partitionBy()
    b = F.lit(int(budget)).cast("bigint")
    return weighted.select(
        "stratum",
        "n_docs",
        "std_size",
        F.expr(f"({int(budget)} * wq) div sum(wq) over ()")
        .cast("bigint")
        .alias("neyman_n"),
        (b * F.col("n_docs"))
        .cast("bigint")
        .alias("_num"),
    ).select(
        "stratum",
        "n_docs",
        "std_size",
        "neyman_n",
        F.expr("_num div sum(n_docs) over ()").cast("bigint").alias(
            "proportional_n"
        ),
    ).orderBy("stratum")


def gate_kappa(df: DataFrame, gate_a, gate_b) -> DataFrame:
    """P69 — Cohen's kappa between two boolean curation gates:
    kappa = (po - pe) / (1 - pe) with po the raw agreement and pe
    the chance agreement from the marginals. One row out, with the
    full 2x2 table for the audit trail.

    Plan: a single scan folding four exact counters; everything
    after is arithmetic on one row.
    """
    a = F.when(gate_a, F.lit(1)).otherwise(F.lit(0))
    b = F.when(gate_b, F.lit(1)).otherwise(F.lit(0))
    counts = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(a * b).cast("bigint").alias("n_both"),
        F.sum(a * (1 - b)).cast("bigint").alias("n_a_only"),
        F.sum((1 - a) * b).cast("bigint").alias("n_b_only"),
        F.sum((1 - a) * (1 - b)).cast("bigint").alias("n_neither"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n_both") + F.col("n_neither")).cast("double") / n
    pa = (F.col("n_both") + F.col("n_a_only")).cast("double") / n
    pb = (F.col("n_both") + F.col("n_b_only")).cast("double") / n
    pe = pa * pb + (F.lit(1.0) - pa) * (F.lit(1.0) - pb)
    return counts.select(
        "n",
        "n_both",
        "n_a_only",
        "n_b_only",
        "n_neither",
        po.alias("observed_agreement"),
        pe.alias("chance_agreement"),
        ((po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


def connected_components_bounded(
    pairs: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Connected components for edge frames with a HARD structural
    size bound — raster-mask adjacency (≤ grid cells × 8 edges, fixed
    by sensor geometry no matter how large the corpus grows), not
    corpus-shaped graphs. One Arrow batch through union-find with
    min-member labeling: identical labels to
    connected_components_fast, none of its O(log² n) driver rounds.
    At 100 TB the per-scene masks stay bounded and label in parallel
    ACROSS scenes (group by scene key); an unbounded dedup graph must
    keep using connected_components_fast.
    """
    import pandas as pd

    edges = (
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )

    def label(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for u, v in zip(pdf["a"].tolist(), pdf["b"].tolist()):
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
        groups: dict = {}
        for node in parent:
            groups.setdefault(find(node), []).append(node)
        rows = []
        for members in groups.values():
            lbl = min(members)
            rows.extend((node, lbl) for node in members)
        return pd.DataFrame(rows, columns=["doc_id", "cluster_id"])

    return (
        edges.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(label, "doc_id long, cluster_id long")
    )


def curation_ablation(docs: DataFrame) -> DataFrame:
    """P70 — single-gate ablation accounting over three deterministic
    gates: length (n_chars >= 100), token count (>= 20 normalized
    tokens), stopword evidence (>= 2 standard stopwords). Per gate:
    total kills, UNIQUE kills (docs every other gate passes), and the
    unique share — the "does this filter earn its complexity" audit.

    Plan: one scan folds all three flags; the per-gate report is a
    3-row explode over the flagged frame's aggregate — no re-scan per
    gate.
    """
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    stops = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(s) for s in stops]))
    )
    flagged = docs.select(
        (F.col("n_chars") >= 100).alias("p_len"),
        (F.size(toks) >= 20).alias("p_tok"),
        (n_stop >= 2).alias("p_stop"),
    )
    agg = flagged.agg(
        F.count_if(~F.col("p_len")).cast("bigint").alias("k_len"),
        F.count_if(~F.col("p_tok")).cast("bigint").alias("k_tok"),
        F.count_if(~F.col("p_stop")).cast("bigint").alias("k_stop"),
        F.count_if(~F.col("p_len") & F.col("p_tok") & F.col("p_stop"))
        .cast("bigint")
        .alias("u_len"),
        F.count_if(F.col("p_len") & ~F.col("p_tok") & F.col("p_stop"))
        .cast("bigint")
        .alias("u_tok"),
        F.count_if(F.col("p_len") & F.col("p_tok") & ~F.col("p_stop"))
        .cast("bigint")
        .alias("u_stop"),
    )
    gates = agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("min_length").alias("gate"),
                    F.col("k_len").alias("n_killed"),
                    F.col("u_len").alias("n_unique_killed"),
                ),
                F.struct(
                    F.lit("min_tokens").alias("gate"),
                    F.col("k_tok").alias("n_killed"),
                    F.col("u_tok").alias("n_unique_killed"),
                ),
                F.struct(
                    F.lit("stopword_evidence").alias("gate"),
                    F.col("k_stop").alias("n_killed"),
                    F.col("u_stop").alias("n_unique_killed"),
                ),
            )
        ).alias("s")
    ).select("s.gate", "s.n_killed", "s.n_unique_killed")
    return gates.select(
        "gate",
        "n_killed",
        "n_unique_killed",
        F.when(
            F.col("n_killed") > 0,
            F.col("n_unique_killed").cast("double")
            / F.col("n_killed").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("unique_share"),
    ).orderBy("gate")


def chunking_plan(
    docs: DataFrame,
    group_col: str,
    text_col: str,
    window: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """P71 — chunk-volume accounting for sliding-window chunking:
    chunks = 1 + ceil((n - window) / stride) for docs longer than the
    window (stride = window - overlap), else 1. Reports per group:
    docs, tokens, chunks, chunks per doc, overlap overhead (extra
    token slots re-embedded) and padding waste (empty slots in the
    last chunk) as shares of raw tokens.

    Exactness: pure integer chunk arithmetic; shares divide exact
    integer sums.

    Plan: one scan computes per-doc token counts and chunk counts in
    codegen; one group aggregate.
    """
    stride = window - overlap
    n = F.size(
        F.split(
            F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "),
            " ",
        )
    ).cast("bigint")
    chunks = F.when(
        n <= window, F.lit(1).cast("bigint")
    ).otherwise(
        F.lit(1)
        + F.ceil((n - F.lit(window)).cast("double") / F.lit(float(stride)))
        .cast("bigint")
    )
    per_doc = docs.select(
        F.col(group_col).alias("grp"),
        n.alias("n_tokens"),
        chunks.alias("n_chunks"),
    ).withColumn(
        "slots", F.col("n_chunks") * F.lit(window)
    )
    return (
        per_doc.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_chunks").cast("bigint").alias("n_chunks"),
            (
                F.sum("n_chunks").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("chunks_per_doc"),
            (
                (
                    F.sum("slots")
                    - F.sum(F.col("n_chunks") - 1) * F.lit(overlap)
                    - F.sum("n_tokens")
                ).cast("double")
                / F.sum("n_tokens").cast("double")
            ).alias("padding_waste_share"),
            (
                (F.sum(F.col("n_chunks") - 1) * F.lit(overlap)).cast(
                    "double"
                )
                / F.sum("n_tokens").cast("double")
            ).alias("overlap_overhead_share"),
        )
        .orderBy(group_col)
    )


def distributed_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    n_col: str | None = None,
    key_cols: list[str] | None = None,
    num_ranges: int | None = None,
) -> DataFrame:
    """Exact ROW_NUMBER over a TOTAL order without a single-partition
    window: the range pass (``_range_pass``) with local row_numbers
    and per-range row counts as offsets → the global rank.
    Bit-identical to ``F.row_number().over(Window.orderBy(*cols))``
    (which is what the SQL oracles keep using) but the data never
    funnels through one task — the 100 TB shape of a global rank.

    With ``key_cols`` (plain column names), the rank is per key —
    bit-identical to ``row_number().over(Window.partitionBy(
    *key_cols).orderBy(*order_cols))`` — but WITHOUT the low-cardinality
    funnel: a plain keyed window sorts each key's entire corpus-grain
    slice in ONE task, so parallelism == |keys| no matter the cluster;
    here the range partitioner splits big keys across many tasks.
    ``n_col`` then attaches the per-key row count.

    ``order_cols`` must be a total order within each key (include a
    unique id) so the rank is unambiguous in any engine.

    ``num_ranges`` defaults to ``spark.sql.shuffle.partitions`` (output
    is bit-identical at any count — only parallelism changes).
    """
    out = _range_pass(
        df,
        order_cols,
        list(key_cols or []),
        {"__lrn": lambda w: F.row_number().over(w)},
        [F.count(F.lit(1)).alias("__ptot")],
        num_ranges,
    ).withColumn(rank_col, F.col("__lrn") + F.col("__ptot_off"))
    if n_col is not None:
        out = out.withColumn(n_col, F.col("__ptot_all"))
    return out.drop("__pid", "__lrn", "__ptot_off", "__ptot_all")


def distributed_ntile(
    df: DataFrame,
    order_cols: list[str],
    n_tiles: int,
    tile_col: str = "tile",
    num_ranges: int | None = None,
) -> DataFrame:
    """Exact NTILE over a TOTAL order without a single-partition
    window: the distributed_rank above plus the NTILE group formula
    (pure integer arithmetic on (rank, n) — the first n % k groups
    get one extra row). Output is bit-identical to
    ``F.ntile(n).over(Window.orderBy(*order_cols))``, which is what
    the SQL oracles keep using.
    """
    ranked = distributed_rank(
        df, order_cols, rank_col="__rn", n_col="__n", num_ranges=num_ranges
    )
    rn = F.col("__rn")
    q = F.floor(F.col("__n") / F.lit(float(n_tiles))).cast("bigint")
    r = F.col("__n") % n_tiles
    head = (q + F.lit(1)) * r
    tile = F.when(
        rn <= head, F.floor((rn - 1) / (q + 1)) + 1
    ).otherwise(
        r + F.floor((rn - head - 1) / F.greatest(q, F.lit(1))) + 1
    )
    return ranked.withColumn(tile_col, tile.cast("int")).drop("__rn", "__n")


def distributed_cumsum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    cum_col: str = "cum",
    total_col: str | None = None,
    key_cols: list[str] | None = None,
    rank_col: str | None = None,
    num_ranges: int | None = None,
) -> DataFrame:
    """Exact running total over a TOTAL order without a single-
    partition window: the range pass (``_range_pass``) with local
    cumulative sums and per-range value totals as offsets.
    Bit-identical to ``F.sum(v).over(Window.orderBy(*cols).rowsBetween
    (unboundedPreceding, 0))`` for exact (integer/decimal) values —
    which is what the SQL oracles keep using — but the data never
    funnels through one task. Order columns may be Column expressions
    (e.g. ``F.col("rev").desc()``); they must form a total order.
    Pass ``total_col`` to also attach the grand total to every row.

    With ``key_cols`` (plain column names), the running total is per
    key — bit-identical to the ``partitionBy(*key_cols)`` window form
    — without the low-cardinality funnel (see distributed_rank).
    NULL contract: rows whose entire prefix is NULL get 0, matching
    ``coalesce(sum(v).over(w), 0)`` (the form every call site
    replaced), NOT the bare window sum (which would keep NULL there).
    With ``rank_col``, the same pass also emits the ROW_NUMBER over the
    same (key, order) — one repartition serves consumers that need
    both the running total and the sequence number (e.g. OHLC bars).
    ``num_ranges`` defaults to ``spark.sql.shuffle.partitions``.
    """
    local = {
        "__lcum": lambda w: F.sum(value_col).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
    }
    if rank_col is not None:
        local["__lrn"] = lambda w: F.row_number().over(w)
    out = _range_pass(
        df,
        order_cols,
        list(key_cols or []),
        local,
        [F.sum(value_col).alias("__ptot"), F.count(F.lit(1)).alias("__pcnt")],
        num_ranges,
    ).withColumn(
        cum_col, F.coalesce(F.col("__lcum"), F.lit(0)) + F.col("__ptot_off")
    )
    if rank_col is not None:
        out = out.withColumn(rank_col, F.col("__lrn") + F.col("__pcnt_off"))
    if total_col is not None:
        out = out.withColumn(total_col, F.col("__ptot_all"))
    return out.drop(
        "__pid", "__lcum", "__lrn", "__ptot_off", "__ptot_all",
        "__pcnt_off", "__pcnt_all",
    )


def distributed_lag(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    lag_col: str = "lag",
    key_cols: list[str] | None = None,
    num_ranges: int | None = None,
) -> DataFrame:
    """Exact LAG(value, 1) over a total order without the keyed-window
    funnel: the range pass (``_range_pass``) with a local lag, then
    each range's FIRST row of a key takes the LAST value of the key's
    previous non-empty range, handed over by the pass's boundary
    table. Bit-identical to
    ``F.lag(v).over(Window.partitionBy(*keys).orderBy(*order))`` —
    which is what the SQL oracles keep using — but a handful-valued
    key no longer serializes its whole corpus-grain slice into one
    task. ``order_cols`` must be plain ascending column names forming
    a total order within each key (the boundary pick uses max_by over
    their struct).
    """
    if not all(isinstance(c, str) for c in order_cols):
        raise TypeError(
            "distributed_lag order_cols must be plain ascending column "
            "names (the cross-partition boundary pick is max_by over "
            "their struct; a desc()/expression order would silently "
            "hand the WRONG boundary value across partitions)"
        )
    out = _range_pass(
        df,
        order_cols,
        list(key_cols or []),
        {
            "__llag": lambda w: F.lag(value_col).over(w),
            "__lrn": lambda w: F.row_number().over(w),
        },
        [F.max_by(F.col(value_col), F.struct(*order_cols)).alias("__last")],
        num_ranges,
        handoff=True,
    ).withColumn(
        lag_col,
        F.when(F.col("__lrn") == 1, F.col("__last")).otherwise(F.col("__llag")),
    )
    return out.drop("__pid", "__llag", "__lrn", "__last")
