"""Deduplication operators for LLM training corpora (SURVEY §2 D1-D4).

Everything hashes with md5 so DuckDB oracles can reproduce signatures
bit-for-bit (functions/hashing.py). All heavy lifting is JVM-side
higher-order functions over per-document gram arrays — the only
shuffles are the candidate-pair joins, keyed on (band, signature)
buckets whose fanout is bounded by design (this is what makes
MinHash/SimHash the 100 TB path: candidates come from equal-hash
buckets, never from an all-pairs join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from icecube_spark.functions import hashing
from icecube_spark.functions.plans import filter_once

# normalized text: lowercase, trimmed, single-spaced
NORM = "regexp_replace(lower(trim({col})), '\\\\s+', ' ')"

# distinct word 3-grams of the normalized text (whole text if <3 words).
# The outer transform-over-singleton binds the token array to a lambda
# variable so split() runs ONCE per row — referencing a split() column
# from another projection gets inlined by Catalyst's projection
# collapse and re-evaluated per array element (regex per gram).
GRAMS = f"""
    array_distinct(element_at(
      transform(array(split({NORM}, ' ')),
        t -> CASE WHEN size(t) < 3
                  THEN array(concat_ws(' ', t))
                  ELSE transform(sequence(1, size(t) - 2),
                                 i -> concat_ws(' ', slice(t, i, 3)))
             END),
      1))
"""


def normalized(col: str):
    return F.expr(NORM.format(col=col))


def _materialized_grams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gram-array table computed ONCE and persisted.

    The candidate/verify shape consumes the gram table three times
    (inverted-index explode + both sides of the pair rejoin); each
    consumer repartitions on a different key, so Catalyst cannot
    reuse one exchange and would re-run the regex shingling per
    branch (~3x the whole query's CPU). Persisting the narrow
    (id, grams) projection removes the recompute. At 100 TB the same
    move is writing the gram table to a staging table (or
    df.persist(DISK_ONLY)) before the pair join — standard for any
    multi-consumer derived corpus."""
    from pyspark import StorageLevel

    grams = with_grams(df.select(id_col, text_col), text_col).select(
        id_col, F.col("grams")
    )
    return grams.persist(StorageLevel.MEMORY_AND_DISK)


def with_grams(df: DataFrame, text_col: str, out: str = "grams") -> DataFrame:
    return df.withColumn(out, F.expr(GRAMS.format(col=text_col)))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """D1 — exact dedup on md5 of normalized text.

    Output: one row per input with its content hash, the canonical
    (min) id of its duplicate group, group size, and a dup flag.
    Single shuffle on the 128-bit hash; at 100 TB this is the
    cheapest possible dedup (no text comparison ever happens).
    """
    hashed = df.select(
        F.col(id_col), F.md5(normalized(text_col)).alias("content_hash")
    )
    groups = hashed.groupBy("content_hash").agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("group_size")
    )
    return hashed.join(groups, "content_hash").select(
        id_col,
        "content_hash",
        "canonical_id",
        "group_size",
        (F.col("group_size") > 1).alias("is_duplicate"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 64
) -> DataFrame:
    """Per-doc MinHash signature columns s0..s{n-1}.

    One md5 per gram (30-bit base), then h_i = (a_i*base + b_i) mod
    (2^31-1) inside codegen'd min() aggregates — explode + groupBy,
    fully whole-stage-codegen, map-side partial mins, one shuffle on
    the doc id. (The HOF formulation — 64 md5s per gram inside nested
    lambdas — is interpreted and ~50x slower.)
    """
    base = hashing.spark_hex2int("gram")
    exploded = (
        with_grams(df.select(id_col, text_col), text_col)
        .select(F.col(id_col), F.explode("grams").alias("gram"))
        .withColumn("base", F.expr(f"{base} & {hashing.BASE_MASK}"))
    )
    aggs = [
        F.expr(
            f"min((({a} * base + {b}) % {hashing.MERSENNE_P})) as s{i}"
        )
        for i, (a, b) in enumerate(hashing.minhash_coeffs(num_hashes))
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def _band_hashes(num_hashes: int, band_rows: int) -> list[str]:
    """band[b] = md5('<b>|' + s_{4b} + '|' + ... + s_{4b+3})."""
    n_bands = num_hashes // band_rows
    out = []
    for b in range(n_bands):
        parts = ", '|', ".join(
            f"cast(s{b * band_rows + r} as string)" for r in range(band_rows)
        )
        out.append(f"md5(concat('{b}', '|', {parts}))")
    return out


def exact_group_members(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _rep, _gsz) exact-duplicate group table: every doc mapped
    to the min-id representative of its normalized-text group, plus
    the group size. ONE shuffle on the content hash — rep id and size
    come from the same window exchange (a groupBy+join would shuffle
    twice). Deliberately NOT persisted here: callers that read it
    repeatedly persist it in a session-staged artifact (see
    queries/llm_queries.staged_collapse; icecube_spark.staging owns
    its release) so a long session doesn't leak one cached table per
    call."""
    wth = Window.partitionBy("_th")
    return (
        df.select(F.col(id_col), F.md5(normalized(text_col)).alias("_th"))
        .withColumn("_rep", F.min(id_col).over(wth))
        .withColumn("_gsz", F.count(F.lit(1)).over(wth))
        .drop("_th")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    band_rows: int = 4,
    grams: DataFrame | None = None,
    sigs: DataFrame | None = None,
    collapse_exact: bool = True,
    members: DataFrame | None = None,
) -> DataFrame:
    """D2 — MinHash+LSH near-dup pairs, verified by exact Jaccard.

    Candidates = pairs sharing any band bucket (shuffle keyed on
    (band_id, band_hash): bounded fanout, no all-pairs). Verification
    computes true Jaccard on the gram sets of candidates only.
    16 bands x 4 rows => P(candidate | J=0.8) ~ 0.9998.

    `grams`/`sigs` accept a pre-staged (persisted) gram/signature
    table so a session running several dedup reports computes the
    shingling and the 64 min-hash aggregates ONCE (the staging-table
    pattern; see queries/llm_queries.staged_corpus and the session
    store in icecube_spark.staging).

    Degenerate-bucket guard (`collapse_exact`): real crawls carry
    mass exact-duplicate templates; all N copies land in the SAME
    band buckets, making the bucket self-join O(N²) in candidates.
    Before banding we collapse exact-normalized-text groups to their
    min-id representative, run LSH over representatives only, then
    expand representative pairs back to member pairs. This is
    OUTPUT-IDENTICAL: identical texts have identical signatures (so
    collapse changes no bucket membership decision) and Jaccard
    exactly 1.0 >= any threshold, while the band self-join sees each
    distinct text once — candidate growth is linear in duplicates.
    """
    if grams is None:
        grams = with_grams(df.select(id_col, text_col), text_col).select(
            id_col, "grams"
        )
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, num_hashes)

    if collapse_exact and members is None:
        members = exact_group_members(df, id_col, text_col)
        rep_ids = members.where(F.col(id_col) == F.col("_rep")).select(id_col)
        grams = grams.join(rep_ids, id_col, "left_semi")
        sigs = sigs.join(rep_ids, id_col, "left_semi")
    # when `members` is passed (staged-collapse path), the caller
    # guarantees grams/sigs are already representative-filtered

    bands_arr = ", ".join(_band_hashes(num_hashes, band_rows))
    exploded = sigs.select(
        id_col,
        F.posexplode(F.expr(f"array({bands_arr})")).alias("band_id", "band_hash"),
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    ga = grams.withColumnRenamed(id_col, "doc_a").withColumnRenamed("grams", "ga")
    gb = grams.withColumnRenamed(id_col, "doc_b").withColumnRenamed("grams", "gb")
    scored = (
        cands.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("ga") + F.size("gb") - F.col("inter")),
        )
    )
    # filter_once: otherwise the threshold pushes into the join
    # condition and array_intersect runs twice per candidate pair
    rep_pairs = filter_once(scored, F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )
    if not collapse_exact:
        return rep_pairs

    # Expand representative pairs to member pairs. Intra-group pairs
    # (identical text) get Jaccard via the SAME division shape
    # (size/size -> exactly 1.0, NULL-safe on empty gram sets) so the
    # emitted doubles are bit-identical to the uncollapsed plan.
    ma = members.select(F.col(id_col).alias("_ida"), F.col("_rep").alias("doc_a"))
    mb = members.select(F.col(id_col).alias("_idb"), F.col("_rep").alias("doc_b"))
    cross = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("_ida", "_idb").alias("doc_a"),
            F.greatest("_ida", "_idb").alias("doc_b"),
            "jaccard",
        )
    )
    # only dup groups (_gsz > 1) produce intra pairs — the self-join
    # never touches the singleton bulk of the corpus. Identical texts
    # have identical non-empty gram sets (GRAMS emits >= 1 gram even
    # for empty text), so their Jaccard is exactly 1.0 — emitted as a
    # literal, no gram join needed.
    multi = members.where(F.col("_gsz") > 1)
    intra = (
        multi.alias("x")
        .join(multi.alias("y"), "_rep")
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("doc_a"),
            F.col(f"y.{id_col}").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    if threshold > 1.0:
        intra = intra.where(F.lit(False))
    return cross.unionByName(intra)


def capped_gram_candidates(
    grams: DataFrame, id_col: str, max_df: int = 64
) -> DataFrame:
    """Candidate pairs sharing at least one RARE gram (document
    frequency <= max_df) — stop-gram blocking, the standard way to
    keep an inverted-index self-join from going quadratic on the
    Zipf head. Fanout per surviving gram bucket is <= max_df, so the
    join is O(n_grams · max_df²/2) worst-case regardless of corpus
    size. Pairs whose every shared gram is a stop-gram are not
    candidates (near-dups above any useful threshold always share
    rare grams). One shuffle on gram serves both the frequency count
    (window) and the bucket self-join."""
    from pyspark.sql import Window

    e = grams.select(F.col(id_col), F.explode("grams").alias("gram"))
    rare = e.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    ).where(F.col("df") <= max_df)
    a, b = rare.alias("a"), rare.alias("b")
    return (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5,
    max_df: int = 64, grams: DataFrame | None = None,
    cands: DataFrame | None = None,
) -> DataFrame:
    """D3 — n-gram Jaccard near-dup pairs via a frequency-capped
    inverted index.

    Candidates come from rare-gram buckets (capped_gram_candidates:
    bounded fanout, no quadratic blowup on the Zipf head); the
    Jaccard itself is EXACT — computed on the full distinct-gram
    arrays of each candidate pair (array_intersect), not on the
    capped index. Same candidate/verify shape as minhash_lsh_pairs,
    with deterministic (not probabilistic) candidate recall for any
    pair sharing >= 1 gram with df <= max_df.

    NOTE: `max_df` only applies when `cands` is None — a caller
    passing a pre-staged candidate table (llm_queries.staged_candidates,
    held in the icecube_spark.staging store) owns the cap that table
    was built with, and this function will not re-derive or re-check
    it.
    """
    if cands is not None and max_df != 64:
        raise ValueError(
            "max_df is ignored when a pre-staged cands table is passed; "
            "build the staged candidates with the desired max_df instead"
        )
    if grams is None:
        grams = _materialized_grams(df, id_col, text_col)
    if cands is None:
        cands = capped_gram_candidates(grams, id_col, max_df)
    ga = grams.withColumnRenamed(id_col, "doc_a").withColumnRenamed("grams", "ga")
    gb = grams.withColumnRenamed(id_col, "doc_b").withColumnRenamed("grams", "gb")
    scored = (
        cands.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("ga") + F.size("gb") - F.col("inter")),
        )
    )
    return filter_once(scored, F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


def simhash_docs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per document over distinct tokens.

    Token hash = first 15 hex chars of md5 as int (60 bits — conv()
    and DuckDB's hex cast agree exactly at this width). Bit b of the
    signature is the sign of sum(+1/-1 for each token's bit b).

    Plan: explode tokens, 60 codegen'd sum(±1) aggregates (map-side
    partials), then assemble the signature in one projection — the
    nested-HOF formulation is interpreted and ~10x slower.
    """
    toks = f"array_distinct(split({NORM.format(col=text_col)}, ' '))"
    exploded = df.select(
        F.col(id_col), F.explode(F.expr(toks)).alias("tok")
    ).withColumn("h", F.expr(hashing.spark_hex2int("tok")))
    aggs = [
        F.expr(f"sum(IF(shiftright(h, {b}) & 1 = 1, 1, -1)) as bit{b}")
        for b in range(60)
    ]
    assemble = " + ".join(f"IF(bit{b} >= 0, {1 << b}L, 0L)" for b in range(60))
    return (
        exploded.groupBy(id_col)
        .agg(*aggs)
        .select(F.col(id_col), F.expr(f"cast({assemble} as bigint)").alias("simhash"))
    )


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 10
) -> DataFrame:
    """D4 — SimHash near-dup pairs.

    Candidates: split the 60-bit signature into 4 x 15-bit chunks;
    pairs sharing any chunk (guarantees recall for hamming <= 3, and
    catches most small distances); verify with bit_count(xor) <=
    max_hamming. Shuffle keyed on (chunk_id, chunk) — bounded buckets.
    """
    sims = simhash_docs(df, id_col, text_col)
    chunks = sims.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3), k -> (simhash >> (k * 15)) & 32767)"
            )
        ).alias("chunk_id", "chunk"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def containment_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.8,
    max_df: int = 64, grams: DataFrame | None = None,
    cands: DataFrame | None = None,
) -> DataFrame:
    """D6 — exact n-gram CONTAINMENT near-dup pairs: |∩| / min(|A|,|B|).
    Jaccard misses subset duplicates (a doc embedded inside a much
    larger one scores low because the union is big); containment is
    the standard complement that catches them (Broder's resemblance
    vs containment distinction).

    Plan: same capped-inverted-index candidates as
    ngram_jaccard_pairs (rare-gram buckets, bounded fanout); |∩| and
    sizes are computed EXACTLY on each candidate's full gram arrays.
    The ratio is one INT/INT double division, bit-equal in both
    engines.
    """
    if grams is None:
        grams = _materialized_grams(df, id_col, text_col)
    if cands is None:
        cands = capped_gram_candidates(grams, id_col, max_df)
    ga = grams.withColumnRenamed(id_col, "doc_a").withColumnRenamed("grams", "ga")
    gb = grams.withColumnRenamed(id_col, "doc_b").withColumnRenamed("grams", "gb")
    scored = (
        cands.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("ga").alias("grams_a"),
            F.size("gb").alias("grams_b"),
            F.size(F.array_intersect("ga", "gb")).cast("bigint").alias("n_shared"),
        )
        .withColumn(
            "containment",
            F.col("n_shared").cast("double")
            / F.least("grams_a", "grams_b").cast("double"),
        )
    )
    return filter_once(scored, F.col("containment") >= threshold).select(
        "doc_a", "doc_b", "grams_a", "grams_b", "n_shared", "containment"
    )


def fuzzy_pairs(
    df: DataFrame,
    name_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """D7 — edit-distance near-dup pairs with blocking: Levenshtein ≤
    max_dist between DISTINCT values, candidates generated per block
    (last token) instead of all-pairs — the entity-resolution /
    catalog-dedup primitive (typo'd titles, product-name variants)
    that the hash-family dedups (D1-D4) can't express.

    Plan: distinct-first shrinks the join to value cardinality (the
    Zipf tail of names, not the corpus); the block equi-join bounds
    candidate fanout to within-block pairs; levenshtein runs in
    codegen on candidates only. At 100 TB add a length-band to the
    block key and/or a q-gram prefilter — the shape (block equi-join
    then verify) is unchanged.
    """
    names = df.select(F.col(name_col).alias("name")).distinct()
    blocked = names.select(
        "name", F.element_at(F.split("name", " "), -1).alias("block")
    )
    a = blocked.select(F.col("name").alias("name_a"), "block")
    b = blocked.select(F.col("name").alias("name_b"), "block")
    return (
        a.join(b, "block")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("edit_dist") <= max_dist)
        .select("name_a", "name_b", "edit_dist")
    )


def minhash_estimate_accuracy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    band_rows: int = 4,
    grams: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """F18 — MinHash ESTIMATOR quality gate: for every LSH candidate
    pair, the signature-estimated Jaccard (matching components / k)
    next to the exact Jaccard and the absolute error. The index-
    tuning companion to ann_recall_eval (E11): it answers "is k=64
    enough for the thresholds we filter at", which every corpus-scale
    dedup deployment has to sign off on before trusting the sketch.

    Plan: same bounded band-bucket candidates as minhash_lsh_pairs;
    one extra broadcast-join of the k-column signature table per
    side; the match count is a codegen sum of k equality flags.
    Estimate (INT/k) and exact Jaccard (INT/INT) are both exact
    divisions — bit-identical to the oracle.
    """
    if grams is None:
        grams = with_grams(df.select(id_col, text_col), text_col).select(
            id_col, "grams"
        )
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, num_hashes)
    bands_arr = ", ".join(_band_hashes(num_hashes, band_rows))
    exploded = sigs.select(
        id_col,
        F.posexplode(F.expr(f"array({bands_arr})")).alias("band_id", "band_hash"),
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    sa = sigs.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    sb = sigs.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    match_sum = " + ".join(
        f"IF(a{i} = b{i}, 1, 0)" for i in range(num_hashes)
    )
    ga = grams.withColumnRenamed(id_col, "doc_a").withColumnRenamed("grams", "ga")
    gb = grams.withColumnRenamed(id_col, "doc_b").withColumnRenamed("grams", "gb")
    scored = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_match", F.expr(match_sum))
        .join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
    )
    return scored.select(
        "doc_a",
        "doc_b",
        (F.col("n_match").cast("double") / F.lit(float(num_hashes))).alias(
            "est_jaccard"
        ),
        (
            F.col("inter")
            / (F.size("ga") + F.size("gb") - F.col("inter"))
        ).alias("jaccard"),
        F.abs(
            F.col("n_match").cast("double") / F.lit(float(num_hashes))
            - F.col("inter")
            / (F.size("ga") + F.size("gb") - F.col("inter"))
        ).alias("abs_err"),
    )


def near_dup_diff(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    band_rows: int = 4,
    grams: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """D9 — WHAT changed between near-dups: for every MinHash-verified
    pair above the threshold, the shared / only-in-A / only-in-B gram
    counts. Dedup pipelines use this to pick survivorship policy
    (boilerplate header vs real edit) instead of blindly dropping one
    side.

    Plan: identical candidate/verify shape as minhash_lsh_pairs (band
    buckets, bounded fanout); the diff adds two array_except sizes on
    the already-joined gram arrays — no extra shuffle.
    """
    if grams is None:
        grams = with_grams(df.select(id_col, text_col), text_col).select(
            id_col, "grams"
        )
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, num_hashes)
    bands_arr = ", ".join(_band_hashes(num_hashes, band_rows))
    exploded = sigs.select(
        id_col,
        F.posexplode(F.expr(f"array({bands_arr})")).alias("band_id", "band_hash"),
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    ga = grams.withColumnRenamed(id_col, "doc_a").withColumnRenamed("grams", "ga")
    gb = grams.withColumnRenamed(id_col, "doc_b").withColumnRenamed("grams", "gb")
    scored = (
        cands.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("ga") + F.size("gb") - F.col("inter")),
        )
    )
    return filter_once(scored, F.col("jaccard") >= threshold).select(
        "doc_a",
        "doc_b",
        F.col("inter").cast("bigint").alias("n_shared"),
        F.size(F.array_except("ga", "gb")).cast("bigint").alias("n_only_a"),
        F.size(F.array_except("gb", "ga")).cast("bigint").alias("n_only_b"),
        "jaccard",
    )


def incremental_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    base_pct: int = 80,
    group_col: str = "source",
) -> DataFrame:
    """D10 — incremental ingestion dedup: split the corpus into an
    existing BASE (md5-bucket < base_pct) and an arriving DELTA, and
    report, per `group_col` (default "source"), how many delta docs
    are exact duplicates of base content vs duplicates WITHIN the
    delta vs novel. This is the path production dedup actually runs —
    new-vs-index, never all-pairs over history — and the split is the
    same append-stable hash convention as train_test_split, so
    re-runs are deterministic.

    Plan: one content-hash projection; the base side collapses to
    DISTINCT digests (digest-only shuffle, 32 B/row at any history
    size — the "index"); delta joins it on the digest; within-delta
    dups come from a digest window on the same exchange. Per-source
    counts are a tiny aggregate.
    """
    from icecube_spark.operators.pipeline import _bucket

    h = F.md5(F.expr(f"regexp_replace(lower(trim({text_col})), '\\\\s+', ' ')"))
    tagged = df.select(
        F.col(id_col),
        F.col(group_col),
        h.alias("digest"),
        (_bucket(id_col) < base_pct).alias("is_base"),
    )
    base_digests = (
        tagged.where(F.col("is_base")).select("digest").distinct()
        .withColumn("in_base", F.lit(1))
    )
    delta = tagged.where(~F.col("is_base"))
    w = Window.partitionBy("digest").orderBy(id_col)
    marked = (
        delta.join(base_digests, "digest", "left")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "status",
            F.when(F.col("in_base").isNotNull(), F.lit("dup_of_base"))
            .when(F.col("rn") > 1, F.lit("dup_in_delta"))
            .otherwise(F.lit("novel")),
        )
    )
    return (
        marked.groupBy(group_col, "status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy(group_col, "status")
    )


def lsh_bucket_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    band_rows: int = 4,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """D11 — LSH band-bucket health profile: the bucket-size
    histogram of the banding stage, per band. The dedup-campaign
    dashboard number: candidate-pair cost is Σ size·(size−1)/2 over
    buckets, so one row here saying "size-10000 buckets exist" means
    the collapse guard (or a re-banding) must run BEFORE the pair
    join, not after it blows up. Profiling buckets costs one
    aggregate; discovering the blowup in the self-join costs the
    blowup.

    Exactness: integer counts only.

    Plan: the E17-style banding explode + two aggregates — bucket
    sizes, then a (band, size) histogram with the implied pair cost.
    No self-join anywhere.
    """
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, num_hashes)
    bands_arr = ", ".join(_band_hashes(num_hashes, band_rows))
    exploded = sigs.select(
        id_col,
        F.posexplode(F.expr(f"array({bands_arr})")).alias("band_id", "band_hash"),
    )
    buckets = exploded.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("size")
    )
    return (
        buckets.groupBy("band_id", "size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_buckets"))
        .select(
            F.col("band_id").cast("int").alias("band_id"),
            F.col("size").cast("bigint").alias("bucket_size"),
            "n_buckets",
            (
                F.col("n_buckets") * F.col("size") * (F.col("size") - 1) / 2
            ).cast("bigint").alias("implied_pairs"),
        )
        .orderBy("band_id", "bucket_size")
    )


def tfidf_cosine_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.4,
    max_df: int = 64,
) -> DataFrame:
    """D12 — TF-IDF cosine near-dup pairs: weight tokens by
    tf·ln(N/df), find candidate pairs through a df-capped inverted
    index, score full sparse-vector cosine, keep pairs ≥ threshold.
    Complements D3's Jaccard (set overlap) with the weighted-bag
    similarity that tolerates token-count skew — boilerplate-heavy
    near-dups share rare terms at different multiplicities.

    Exactness: idf quantizes once per DISTINCT term to milli-nats, so
    weights (tf·idf_q) and dot products are exact BIGINT folds;
    norms take IEEE sqrt of exact integers; the cosine divides
    identical doubles.

    Plan: candidate pairs come ONLY from terms with df ≤ max_df (the
    Zipf head never self-joins); scoring joins the two doc-term lists
    pair-locally on the term key. At 100 TB the index cap bounds
    candidate fanout at df²·vocab, never corpus².
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.expr(f"split({NORM.format(col=text_col)}, ' ')")).alias("tok"),
    ).where(F.col("tok") != "")
    tf = toks.groupBy("doc", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    nd = df.agg(F.countDistinct(F.col(id_col)).cast("double").alias("nd"))
    idf = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "idf_q",
            F.floor(
                F.log(F.col("nd") / F.col("df").cast("double")) * F.lit(1e3)
            ).cast("bigint"),
        )
        .drop("nd")
    )
    w = tf.join(F.broadcast(idf), "tok").select(
        "doc", "tok", "df", (F.col("tf") * F.col("idf_q")).alias("w")
    )
    norms = w.groupBy("doc").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nrm")
    )
    rare = w.where(F.col("df") <= max_df).select("doc", "tok")
    cands = (
        rare.alias("a")
        .join(rare.alias("b"), "tok")
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    wa = w.select(F.col("doc").alias("doc_a"), "tok", F.col("w").alias("wa"))
    wb = w.select(F.col("doc").alias("doc_b"), "tok", F.col("w").alias("wb"))
    dots = (
        cands.join(wa, "doc_a")
        .join(wb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("bigint").alias("dot"))
    )
    na = norms.select(F.col("doc").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc").alias("doc_b"), F.col("nrm").alias("nb"))
    scored = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("dot").cast("double") / (F.col("na") * F.col("nb"))
            ).alias("cosine"),
        )
    )
    return scored.where(F.col("cosine") >= threshold).orderBy("doc_a", "doc_b")


def repeated_substrings(
    df: DataFrame, id_col: str, text_col: str,
    gram_chars: int = 32, stride: int = 16, top_k: int = 100,
) -> DataFrame:
    """D13 — cross-document repeated substring profile: hash strided
    fixed-width character windows and report the substrings shared by
    the most documents. The suffix-array-lite signal behind
    "Deduplicating Training Data Makes Language Models Better" (Lee
    et al. 2022): exact long substrings recurring across documents
    are memorization fuel that word-level MinHash misses.

    Exactness: md5 window hashes are cross-engine byte-identical;
    counts are exact ints; the top-k rank breaks ties on the hash.

    Plan: strided windows keep the explode at n_chars/stride per doc
    (2× the text volume at stride=16, vs 32× for dense windows — a
    repeat ≥ gram+stride chars still always aligns on some stride
    window in both copies); one gram-key count shuffle; TakeOrdered
    prunes the top-k without a global sort.
    """
    norm = NORM.format(col=text_col)
    wins = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(1, length({norm}) - {gram_chars - 1}), {stride}),"
                f" i -> substring({norm}, i, {gram_chars}))"
            )
        ).alias("win"),
    ).where(F.length("win") >= gram_chars)
    grams = wins.select("doc", F.md5("win").alias("h"))
    counts = grams.groupBy("h").agg(
        F.countDistinct("doc").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
    ).where(F.col("n_docs") >= 2)
    return (
        counts.orderBy(F.col("n_docs").desc(), F.col("n_occurrences").desc(), "h")
        .limit(top_k)
        .select("h", "n_docs", "n_occurrences")
    )


def bbit_minhash_eval(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    band_rows: int = 4,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """D14 — b-bit MinHash compression eval (Li & König 2010): for
    every LSH candidate pair, the full-signature Jaccard estimate
    next to the 1-bit-per-component estimate 2·f − 1 (f = matching
    low bits / k). One bit per component cuts sketch storage 32× —
    this table is the sign-off that the collision-corrected
    estimator stays close enough at your thresholds.

    Exactness: both estimates divide exact integers by k=64 (a power
    of two — exactly representable), so no quantization is needed.

    Plan: the F18 band-bucket candidate shape; two k-column signature
    joins; both match counts are codegen sums of equality flags.
    """
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, num_hashes)
    bands_arr = ", ".join(_band_hashes(num_hashes, band_rows))
    exploded = sigs.select(
        id_col,
        F.posexplode(F.expr(f"array({bands_arr})")).alias("band_id", "band_hash"),
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    sa = sigs.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    sb = sigs.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    j = cands.join(sa, "doc_a").join(sb, "doc_b")
    n_full = sum(
        [
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
            for i in range(num_hashes)
        ],
        F.lit(0),
    )
    n_bit = sum(
        [
            F.when(F.col(f"a{i}") % 2 == F.col(f"b{i}") % 2, 1).otherwise(0)
            for i in range(num_hashes)
        ],
        F.lit(0),
    )
    kd = float(num_hashes)
    est_full = n_full.cast("double") / F.lit(kd)
    f1 = n_bit.cast("double") / F.lit(kd)
    est_1bit = F.greatest(F.lit(0.0), F.lit(2.0) * f1 - F.lit(1.0))
    return j.select(
        "doc_a",
        "doc_b",
        est_full.alias("est_full"),
        est_1bit.alias("est_1bit"),
        F.abs(est_full - est_1bit).alias("abs_gap"),
    ).orderBy("doc_a", "doc_b")


def winnowing_pairs(
    docs: DataFrame, id_col: str, text_col: str,
    k: int = 4, w: int = 4, min_shared: int = 3, max_df: int = 64,
) -> DataFrame:
    """D15 — winnowing fingerprint dedup (Schleimer/Wilkerson/Aiken,
    the MOSS algorithm): hash every k-token gram, slide a w-gram
    window and keep each window's MINIMUM hash; the distinct kept
    hashes are the document's fingerprints. Winnowing guarantees any
    shared run of >= w+k-1 tokens yields a shared fingerprint —
    positional near-dup evidence MinHash's bag-of-grams view can't
    give. Pairs share >= min_shared fingerprints.

    Exactness: md5 hex minima are lexicographic string minima —
    identical in both engines; overlap counts are exact.

    Plan: gram hashing is a map-side transform; the window minimum
    is a doc-partitioned ordered window (rows w-1 following — no
    global sort); the pair join runs on the fingerprint inverted
    index with the D3 df <= max_df stop-fingerprint cap, bounding
    fanout per fingerprint at any corpus size.
    """
    norm = NORM.format(col=text_col)
    toks = f"split({norm}, ' ')"
    ghash = (
        f"transform(sequence(1, greatest(size({toks}) - {k - 1}, 1)),"
        f" i -> md5(array_join(slice({toks}, i, {k}), ' ')))"
    )
    grams = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(F.expr(ghash))
    ).select("doc_id", F.col("pos"), F.col("col").alias("gh"))
    wwin = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, w - 1)
    )
    cnt = Window.partitionBy("doc_id")
    fps = (
        grams.withColumn("n_grams", F.count(F.lit(1)).over(cnt))
        .withColumn("wmin", F.min("gh").over(wwin))
        .where(F.col("pos") <= F.col("n_grams") - w)
        .select("doc_id", F.col("wmin").alias("fp"))
        .distinct()
    )
    df_cap = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    idx = fps.join(df_cap, "fp").where(F.col("df") <= max_df)
    a = idx.select(F.col("doc_id").alias("doc_a"), "fp")
    b = idx.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .orderBy("doc_a", "doc_b")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    min_jaccard: float = 0.3,
) -> DataFrame:
    """D17 — sorted-neighborhood near-dup blocking (Hernandez &
    Stolfo 1995): sort documents by their normalized text inside
    first-token blocks, slide a w-record window, and Jaccard-verify
    only window pairs. The classic entity-resolution alternative to
    LSH banding (D2): deterministic candidate count (<= w-1 per
    record), no hash tuning, catches prefix-anchored dup families
    that banding can split across buckets.

    Exactness: the verify is exact distinct-3-gram Jaccard — an
    integer intersect/union ratio; the [0,1] threshold compare is
    on that exact double.

    Plan: the sort key partitions by FIRST TOKEN (the block), so
    the rank window never sees a corpus-wide partition; pairing is
    an equi-join on (block, rank+offset) with the tiny offset array
    exploded — candidate fanout is exactly (w-1) per record at any
    corpus size.
    """
    norm = NORM.format(col=text_col)
    base = df.select(
        F.col(id_col).alias("id"),
        F.expr(norm).alias("k"),
        F.expr(GRAMS.format(col=text_col)).alias("g"),
    ).withColumn("blk", F.expr("split(k, ' ')[0]"))
    w = Window.partitionBy("blk").orderBy("k", "id")
    ranked = base.withColumn("rn", F.row_number().over(w))
    left = ranked.select(
        F.col("blk"),
        F.col("rn"),
        F.col("id").alias("doc_a"),
        F.col("g").alias("ga"),
        F.explode(
            F.array(*[F.lit(o) for o in range(1, window)])
        ).alias("o"),
    ).select(
        "blk", (F.col("rn") + F.col("o")).alias("rn"), "doc_a", "ga"
    )
    right = ranked.select(
        "blk", "rn", F.col("id").alias("doc_b"), F.col("g").alias("gb")
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    return (
        left.join(right, ["blk", "rn"])
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(min_jaccard))
        .orderBy("doc_a", "doc_b")
    )


def dup_transitivity_audit(pairs: DataFrame) -> DataFrame:
    """D18 — transitivity (global clustering coefficient) of the
    near-dup pair graph: of all wedges a—m—c (two pairs sharing a
    middle doc), what fraction close into a triangle (a—c also a
    pair)? High closure says near-dup similarity behaves like an
    equivalence relation and connected-components clustering (P6)
    merges true groups; low closure warns that CC will chain
    unrelated docs through hubs and a stricter threshold or
    star-split is needed BEFORE the cluster-collapse step.

    Exactness: pure integer wedge/triangle counting on the pair
    table; the rate is one division.

    Plan: the pair graph is candidate-capped upstream (df<=64
    inverted index), so the wedge self-join fans out per-node
    degree-bounded; triangles close via one more join on the
    (a, c) key. Never touches the corpus — only the pair table.
    """
    e = pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("t"))
    e = e.unionAll(
        pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("t"))
    )
    w1 = e.select(F.col("s").alias("a"), F.col("t").alias("m"))
    w2 = e.select(F.col("s").alias("m"), F.col("t").alias("c"))
    wedges = w1.join(w2, "m").where(F.col("a") < F.col("c"))
    undirected = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("c")
    )
    closed = wedges.join(undirected, ["a", "c"], "left_semi")
    agg = (
        wedges.agg(F.count(F.lit(1)).cast("bigint").alias("n_wedges"))
        .crossJoin(
            closed.agg(F.count(F.lit(1)).cast("bigint").alias("n_closed"))
        )
        .crossJoin(
            pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        )
    )
    return agg.select(
        "n_pairs",
        "n_wedges",
        "n_closed",
        F.when(
            F.col("n_wedges") > 0,
            F.col("n_closed").cast("double")
            / F.col("n_wedges").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("closure_rate"),
    )


def shingle_stats(
    df: DataFrame, id_col: str, text_col: str, sizes: tuple[int, ...] = (3, 5, 8)
) -> DataFrame:
    """D19 — shingle-width tuning table: before committing a dedup
    campaign to one n-gram width, measure what each width buys —
    total and distinct shingles, the share that ever repeats across
    the corpus (wider shingles repeat less: fewer candidates, fewer
    false merges, worse recall on light edits), and shingles per doc.
    The width knob is the third leg of the D15 threshold / F18
    permutation tuning pair.

    Exactness: pure integer counting; one share division.

    Plan: per width, one explode → (shingle) count — map-side combine
    absorbs the Zipf head exactly as in D3's index build — then a
    one-row fold; widths are a fixed 3-way fanout, unioned.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(
            f"split(regexp_replace(lower(trim({text_col})), '\\\\s+', ' '),"
            " ' ')"
        ).alias("t"),
    )
    per_size = []
    for n in sizes:
        grams = toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"CASE WHEN size(t) < {n} THEN array(array_join(t, ' '))"
                    f" ELSE transform(sequence(0, size(t) - {n}),"
                    f" i -> array_join(slice(t, i + 1, {n}), ' ')) END"
                )
            ).alias("g"),
        )
        counts = grams.groupBy("g").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        per_size.append(
            counts.agg(
                F.lit(n).alias("shingle_width"),
                F.sum("cnt").cast("bigint").alias("n_shingles"),
                F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
                F.count_if(F.col("cnt") > 1)
                .cast("bigint")
                .alias("n_repeated"),
                (
                    F.count_if(F.col("cnt") > 1).cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias("repeated_share"),
            )
        )
    out = per_size[0]
    for p in per_size[1:]:
        out = out.unionAll(p)
    return out.orderBy("shingle_width")


def minhash_band_tuning(
    df: DataFrame,
    id_col: str,
    text_col: str,
    grams: DataFrame | None = None,
    sigs: DataFrame | None = None,
    threshold: float = 0.8,
    configs: tuple[tuple[int, int], ...] = ((16, 4), (8, 8), (4, 16)),
) -> DataFrame:
    """D20 — LSH band-shape tuning: with the SAME 64-hash signatures,
    compare band layouts (16x4 / 8x8 / 4x16) by candidate volume and
    precision against exact Jaccard at the campaign threshold. More
    rows per band = fewer, higher-precision candidates (the s-curve
    steepens); this table is how a campaign picks the shape before
    committing a 100 TB shuffle to it. Completes the tuning
    triptych: D15 sweeps the threshold, D19 the shingle width, F18
    the estimator accuracy.

    Plan: per layout, band hashes explode from the staged signature
    table (no re-hash of the corpus), candidates come from the
    bucket self-join (bounded fanout), verification touches
    candidate gram pairs only; three layouts union to 3 rows.
    """
    if grams is None:
        grams = with_grams(df.select(id_col, text_col), text_col).select(
            id_col, "grams"
        )
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col)
    ga = grams.select(
        F.col(id_col).alias("doc_a"), F.col("grams").alias("ga")
    )
    gb = grams.select(
        F.col(id_col).alias("doc_b"), F.col("grams").alias("gb")
    )
    out = None
    for _, br in configs:
        exprs = _band_hashes(64, br)
        nb = 64 // br
        banded = sigs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_id"),
                            F.expr(h).alias("band_hash"),
                        )
                        for i, h in enumerate(exprs)
                    ]
                )
            ).alias("s"),
        ).select("doc_id", "s.band_id", "s.band_hash")
        a = banded.select(
            F.col("doc_id").alias("doc_a"), "band_id", "band_hash"
        )
        b = banded.select(
            F.col("doc_id").alias("doc_b"), "band_id", "band_hash"
        )
        cands = (
            a.join(b, ["band_id", "band_hash"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
        union = (
            F.size(F.col("ga")) + F.size(F.col("gb")) - inter
        )
        verified = (
            cands.join(ga, "doc_a")
            .join(gb, "doc_b")
            .select(
                (
                    inter.cast("double") / union.cast("double")
                    >= F.lit(threshold)
                ).alias("hit")
            )
        )
        row = verified.agg(
            F.lit(nb).alias("n_bands"),
            F.lit(br).alias("rows_per_band"),
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.count_if(F.col("hit")).cast("bigint").alias("n_verified"),
            F.when(
                F.count(F.lit(1)) > 0,
                F.count_if(F.col("hit")).cast("double")
                / F.count(F.lit(1)).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("precision"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("rows_per_band")
