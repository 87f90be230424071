"""Deduplication operators for a training-data pipeline.

Five families, all pure DataFrame compositions (no UDFs — dedup is
join/agg-shaped, exactly what Catalyst optimizes):

- exact            hash-groupBy on canonicalized text (md5)
- minhash_lsh      per-band min-of-hash signatures → bucket equi-join
- simhash          engine-portable 64-bit md5 bit-vote fingerprint
- ngram_jaccard    shingle inverted index → pair co-count → Jaccard
- embedding_neardup cosine pairs inside a blocking key

Scale notes (10^12 docs): every candidate generation here is an
equi-join on a bounded-fanout key — band buckets / rare shingles /
blocking keys — so the pair explosion is O(sum of bucket²), controlled
by ``max_bucket`` / document-frequency caps, never a cross join.
Signatures hash with md5 rather than xxhash64 so that an external
oracle can reproduce them (md5 is engine-portable).

Reference analog: the reference dedups only by key
(/root/reference/osmdq/utils.py:365, drop_duplicates before counting);
near-dup text dedup is the web-corpus generalization the north rule
adds (MinHash as in Broder '97 resemblance sketches, SimHash as in
Charikar '02 — public algorithms, built from Spark primitives).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ml import first_argmin, sql_col, sql_elem, sql_lit, sql_sum


def _tokens(text_col: str, distinct: bool = True):
    t = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    return F.array_distinct(t) if distinct else t


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: md5(text) → (fingerprint, keep_id,
    n_copies). keep_id = lowest id (deterministic representative)."""
    return (
        df.select(F.col(id_col), F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def dedup_keep_first(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Drop exact duplicates, keeping the lowest-id copy — the
    row_number-window form (no join back)."""
    w = Window.partitionBy(F.md5(F.coalesce(F.col(text_col), F.lit("")))).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def _shingles(text_col: str, n: int, distinct: bool = True):
    """Word n-gram shingles (space-joined); n=1 → tokens.

    Built as arrays_zip of n pre-sliced arrays + a transform whose
    lambda touches ONLY the zipped element: Spark's higher-order
    functions are interpreted and re-evaluate any CAPTURED outer
    expression per element access (CLAUDE.md), so the earlier
    slice-inside-lambda form recomputed the token split per shingle —
    measured 3.05 s → 0.66 s on the sf0.1 signature scan after this
    rewrite, identical outputs. ``distinct=False`` skips the dedup for
    consumers where duplicates are harmless (min-aggregation)."""
    if n == 1:
        return _tokens(text_col, distinct)
    toks = _tokens(text_col, distinct=False)
    cnt = F.size(toks)
    n_sh = cnt - (n - 1)
    z = F.arrays_zip(*[F.slice(toks, i + 1, n_sh).alias(f"w{i}") for i in range(n)])
    grams = F.when(cnt < n, F.array().cast("array<string>")).otherwise(
        F.transform(z, lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(n)]))
    )
    return F.array_distinct(grams) if distinct else grams


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 8,
    shingle_n: int = 1,
    rows_per_band: int = 1,
) -> DataFrame:
    """One row per (id, band, minhash). With ``rows_per_band`` = r > 1
    the band key is the concatenation of r independent min-hashes
    (hash seed ``b_r``): a bucket collision then requires ALL r rows to
    agree — P(collide) = s^r per band, 1-(1-s^r)^b overall (the
    standard banded-LSH precision/recall knob, Broder '97 /
    Leskovec-Rajaraman-Ullman ch.3). r=1 keeps the original one-hash
    signature. md5 keeps signatures reproducible by any engine
    (oracle parity). shingle_n>1 (word n-grams) makes collisions track
    resemblance instead of shared vocabulary."""
    # distinct=False: a min-aggregation is invariant under duplicate
    # shingles, so the per-doc array_distinct is pure overhead here
    toks = _shingles(text_col, shingle_n, distinct=False)
    # ONE explode (doc, shingle): every (band, row) minimum is an
    # aggregate EXPRESSION over the same exploded rows — the earlier
    # form additionally exploded the band sequence, inflating the
    # pre-shuffle row count by n_bands× for no aggregation benefit
    # (VERDICT r2 #1). The md5 count per shingle is unchanged
    # (bands × rows), every md5 runs inside whole-stage codegen, and
    # the per-partition partial min (map-side combine) still collapses
    # rows to ≤ docs per partition before the single shuffle.
    sh = df.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("_t"))

    def seed(b: int, r: int) -> str:
        # r=1 keeps the legacy seed "band" (oracle SQL_28/29 parity);
        # r>1 seeds each row "band_r" (oracle SQL_44 parity)
        return f"{b}_{r}" if rows_per_band > 1 else f"{b}"

    aggs = [
        F.min(F.md5(F.concat(F.col("_t"), F.lit(f"#{seed(b, r)}")))).alias(f"_m{b}_{r}")
        for b in range(n_bands)
        for r in range(rows_per_band)
    ]
    agg = sh.groupBy("doc_id").agg(*aggs)

    def band_sig(b: int):
        row_cols = [F.col(f"_m{b}_{r}") for r in range(rows_per_band)]
        return row_cols[0] if rows_per_band == 1 else F.concat_ws("|", *row_cols)

    # unpivot back to (doc_id, band, minhash): stack is a Generate over
    # k column references — no extra shuffle, codegen-friendly
    sigs = agg.select("doc_id", *[band_sig(b).alias(f"_s{b}") for b in range(n_bands)])
    stack_args = ", ".join(f"{b}, _s{b}" for b in range(n_bands))
    return sigs.select(
        "doc_id", F.expr(f"stack({n_bands}, {stack_args}) as (band, minhash)")
    ).filter(F.col("minhash").isNotNull() & (F.col("minhash") != ""))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 8,
    max_bucket: int = 50,
    shingle_n: int = 1,
    rows_per_band: int = 1,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any (band, minhash)
    bucket. Buckets larger than ``max_bucket`` are dropped (a bucket of
    b docs yields b² pairs — at web scale a stopword-like bucket would
    dominate the join; the cap is the standard LSH skew guard).
    ``rows_per_band`` tunes precision (see minhash_signatures).

    Shape (r7): ONE groupBy per (band, minhash) into a bounded sorted
    id array (≤ max_bucket elements — the cap is exactly the state
    bound), then in-bucket pair generation as two codegen Generates
    (posexplode + slice-explode of the strictly-greater suffix, so
    id1 < id2 by construction). The earlier self-join form computed
    the ENTIRE signature pipeline twice (probe + broadcast build, no
    exchange reuse) and paid a window sort for the bucket-count cap;
    this computes signatures once, needs no window and no join, and
    shuffles each signature row exactly once. Measured at the 50k-doc
    sf1.0 fixture: q29 7.1 s → see BENCH.md (same pair set, oracle
    SQL unchanged)."""
    sig = minhash_signatures(df, id_col, text_col, n_bands, shingle_n, rows_per_band)
    buckets = (
        sig.groupBy("band", "minhash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_ids"))
        .filter((F.size("_ids") >= 2) & (F.size("_ids") <= max_bucket))
    )
    return (
        buckets.select(F.posexplode("_ids").alias("_i", "id1"), "_ids")
        .select("id1", F.explode(F.slice(F.col("_ids"), F.col("_i") + 2, F.size("_ids"))).alias("id2"))
        .dropDuplicates()
    )


def simhash64_portable(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Engine-portable 64-bit SimHash: token hash = the 32 hex digits
    of md5(token), 2 bits per digit (bit 2i = digit&1, bit 2i+1 =
    (digit>>1)&1), so any engine with md5 reproduces the fingerprint
    exactly (the q30 16-bit technique extended to 64 bits). Output is split into two 32-bit
    halves (sim_hi = bits 32..63, sim_lo = bits 0..31) as BIGINTs to
    stay overflow-free in engines without unsigned 64-bit."""
    toks = _tokens(text_col)
    ex = df.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("_t")).withColumn("h", F.md5("_t"))
    hexv = "0123456789abcdef"
    digits = [F.instr(F.lit(hexv), F.substring(F.col("h"), d + 1, 1)) - 1 for d in range(32)]
    bits = [F.shiftright(digits[i // 2], i % 2).bitwiseAND(F.lit(1)) for i in range(64)]
    votes = [F.sum(F.when(bits[i] == 1, 1).otherwise(-1)).alias(f"v{i}") for i in range(64)]
    agg = ex.groupBy("doc_id").agg(*votes)
    lo, hi = F.lit(0).cast("long"), F.lit(0).cast("long")
    for i in range(32):
        lo = lo + F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        hi = hi + F.when(F.col(f"v{i + 32}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return agg.select("doc_id", hi.alias("sim_hi"), lo.alias("sim_lo"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Exact n-gram-Jaccard pairs via shingle inverted index:
    explode distinct word n-grams → drop shingles appearing in more
    than ``max_doc_freq`` docs (they generate quadratic pairs and
    carry no resemblance signal) → self-join on shingle → per-pair
    intersection count → |A∩B| / (|A|+|B|−|A∩B|) ≥ threshold.

    Note: dropping frequent shingles can only UNDERCOUNT the
    intersection, so this returns a (deterministic) subset at the
    threshold boundary; set max_doc_freq ≥ #docs for exactness at
    test scale."""
    # distinct=True: the intersection COUNT needs one row per distinct
    # (doc, shingle) pair
    sh = df.select(F.col(id_col).alias("doc_id"), F.explode(_shingles(text_col, n)).alias("g"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    freq = Window.partitionBy("g")
    sh = sh.withColumn("_df", F.count(F.lit(1)).over(freq)).filter(F.col("_df") <= max_doc_freq).drop("_df")
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id1"), F.col("sz").alias("sz1"))
    sb = sizes.select(F.col("doc_id").alias("id2"), F.col("sz").alias("sz2"))
    return (
        inter.join(sa, "id1").join(sb, "id2")
        .withColumn("jaccard", F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD '03 — the MOSS algorithm): hash every word ``k``-gram, then
    keep the MINIMUM hash of each sliding window of ``window``
    consecutive k-grams; the distinct kept hashes are the document's
    fingerprint set. Guarantees: any shared substring of length ≥
    k + window − 1 tokens contributes at least one COMMON fingerprint
    to both documents, while only ~1/window of all k-grams are kept.

    Spark shape: posexplode k-grams → md5 (engine-portable; winnowing
    needs only a total order, so the lexicographic order on hex
    strings serves) → one RANGE-free ROWS window min per doc →
    distinct. One shuffle keyed by doc id. Output: (doc_id,
    fingerprint) — one row per distinct kept hash."""
    toks = _tokens(text_col, distinct=False)
    cnt = F.size(toks)
    n_sh = cnt - (k - 1)
    z = F.arrays_zip(*[F.slice(toks, i + 1, n_sh).alias(f"w{i}") for i in range(k)])
    grams = F.when(cnt < k, F.array().cast("array<string>")).otherwise(
        F.transform(z, lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(k)]))
    )
    ex = df.select(F.col(id_col).alias("doc_id"), F.posexplode(grams).alias("pos", "_g"))
    ex = ex.withColumn("_h", F.md5("_g"))
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    # a window starting at pos is complete iff pos ≤ n_grams − window;
    # count-over-frame == window tests exactly that without a second
    # size lookup
    return (
        ex.withColumn("_fp", F.min("_h").over(win))
        .withColumn("_full", F.count(F.lit(1)).over(win))
        .filter(F.col("_full") == window)
        .select("doc_id", F.col("_fp").alias("fingerprint"))
        .dropDuplicates()
    )


def cosine_col(a: str, b: str, dim: int | None = None):
    """cos(a, b) for two array<float|double> columns named ``a`` and
    ``b``, computed in double. Two bitwise-identical code paths:

    - ``dim=None``: zip_with/aggregate higher-order functions. HOF
      lambdas are INTERPRETED per element (no codegen, CLAUDE.md), so
      on a pair-join hot path this costs ~16 µs per 64-dim pair.
    - ``dim=k`` (opt-in for fixed-dim corpora): the same arithmetic
      unrolled as explicit left-assoc element_at folds — whole-stage
      codegen compiles it. Measured 316 s → 90 s in the controlled
      A/B of the cosine alone on q32's 20.06M-pair join (the table
      in OPTIMIZATION_r07.md), with identical outputs. That is not
      the per-query figure: the whole q32 went 332 → 72 s in single
      cold trials on the 10× stand-in. The fold replays the HOF order
      exactly — each accumulator (ml.sql_sum) starts at 0.0 and adds
      terms left to right, then dot/(sqrt(na)*sqrt(nb)) — so the doubles are
      bit-for-bit the HOF values. Every non-null array must have
      exactly ``dim`` elements: any other length raises (a longer
      array would otherwise be silently truncated). At dim ≫ 64 stage
      the three folds as separate columns (janino 64 KB, CLAUDE.md).
    """
    if dim is not None:
        qa, qb = sql_col(a), sql_col(b)
        # the guard wraps each array, not the fold: a CASE around the
        # fold would keep its element_at terms out of common-
        # subexpression elimination and push the method past 64 KB
        bad = f"{qa} IS NOT NULL AND {qb} IS NOT NULL AND (size({qa}) != {dim} OR size({qb}) != {dim})"
        err = f"raise_error(format_string('cosine_col(dim={dim}): array sizes %d and %d', size({qa}), size({qb})))"
        ae, be = ([sql_elem(f"CASE WHEN {bad} THEN {err} ELSE {v} END", i + 1) for i in range(dim)] for v in (qa, qb))
        dot = sql_sum(["0.0D", *(f"{x} * {y}" for x, y in zip(ae, be))])
        na = sql_sum(["0.0D", *(f"{x} * {x}" for x in ae)])
        nb = sql_sum(["0.0D", *(f"{y} * {y}" for y in be)])
        return F.expr(f"({dot}) / (sqrt({na}) * sqrt({nb}))")
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(bd, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.9,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs inside a blocking key (equi-join
    on the block, never a cross join). At 10^12 scale the block key
    would be an LSH bucket (similarity.lsh_buckets); any column works.
    ``dim`` (when the corpus dimension is fixed and known) switches the
    per-pair cosine to the codegen fold path — see cosine_col."""
    a = df.select(F.col(id_col).alias("id1"), F.col(block_col).alias("_blk"), F.col(vec_col).alias("_v1"))
    b = df.select(F.col(id_col).alias("id2"), F.col(block_col).alias("_blk"), F.col(vec_col).alias("_v2"))
    return (
        a.join(b, ["_blk"])
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("cosine", cosine_col("_v1", "_v2", dim=dim))
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", F.round("cosine", 6).alias("cosine"))
    )


def resolve_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id1: str = "id1",
    id2: str = "id2",
    priority_col: str | None = None,
) -> DataFrame:
    """The dedup step AFTER pair generation: collapse near-duplicate
    PAIRS (from any generator above — MinHash/SimHash/Jaccard/
    embedding) into duplicate CLUSTERS via connected components
    (webdq.graph: min-label + path halving) and pick one canonical
    document per cluster. Output: every input row + ``cluster`` (the
    minimum member id — deterministic) + ``keep`` (true for exactly
    one member per cluster: highest ``priority_col`` if given, ties
    and default by lowest id; unpaired docs keep themselves).

    Scale notes: components state is one long per PAIRED doc only
    (unpaired docs never enter the iteration — at web scale the
    paired subset is orders of magnitude smaller than the corpus);
    the final attach is one left join on the id.
    """
    from webdq.graph import connected_components

    comp = connected_components(pairs, src=id1, dst=id2, node_col="_cid")
    out = (
        df.join(comp.select(F.col("_cid").alias(id_col), "component"), id_col, "left")
        .withColumn("cluster", F.coalesce(F.col("component"), F.col(id_col)))
        .drop("component")
    )
    order = [F.col(id_col).asc()]
    if priority_col is not None:
        order.insert(0, F.col(priority_col).desc())
    w = Window.partitionBy("cluster").orderBy(*order)
    return out.withColumn("keep", F.row_number().over(w) == 1)


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that
    share any winnowing fingerprint with ``benchmark`` — i.e. any
    common token run of length ≥ k + window − 1 is guaranteed to be
    caught (the winnowing guarantee, Schleimer et al. '03). This is
    the train/test-overlap scrub every pretraining corpus needs.

    Shape: fingerprint both sides (one shuffle each), broadcast the
    benchmark's DISTINCT fingerprint set (benchmarks are small —
    thousands of docs; for a huge benchmark drop the hint and let the
    fingerprint equi-join shuffle), then one left join per doc.
    Returns df + boolean ``contaminated`` (filter on it to drop)."""
    fps = winnow_fingerprints(df, id_col=id_col, text_col=text_col, k=k, window=window)
    bfp = (
        winnow_fingerprints(benchmark, id_col=id_col, text_col=text_col, k=k, window=window)
        .select("fingerprint")
        .dropDuplicates()
    )
    hit = (
        fps.join(F.broadcast(bfp), "fingerprint")
        .select(F.col("doc_id").alias(id_col))
        .dropDuplicates()
    )
    return df.join(
        hit.withColumn("_hit", F.lit(True)), id_col, "left"
    ).withColumn("contaminated", F.coalesce(F.col("_hit"), F.lit(False))).drop("_hit")


def dedup_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental (delta) dedup: flag NEW documents whose exact text
    already exists in the ingested corpus (boolean ``in_corpus``) — the
    batch-over-batch production shape. One equi-join on
    md5(text) (same fingerprint as exact_dedup); the corpus side is
    pre-aggregated to distinct fingerprints, so the join's build input
    is one row per distinct corpus text regardless of duplication.

    At 10^12 docs the corpus fingerprint set is a persisted stage
    table; bucketing it on the fingerprint (``bucketBy``) makes every
    delta's probe exchange-free."""
    fp = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    seen = corpus_df.select(fp.alias("_fp")).dropDuplicates()
    tagged = new_df.withColumn("_fp", fp)
    return (
        tagged.join(seen.withColumn("_seen", F.lit(True)), "_fp", "left")
        .withColumn("in_corpus", F.coalesce(F.col("_seen"), F.lit(False)))
        .drop("_fp", "_seen")
    )

def line_dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    out_col: str = "text_deduped",
) -> DataFrame:
    """CORPUS-WIDE line-level deduplication with document
    reconstruction — the C4/CCNet boilerplate-removal step (navbars,
    cookie banners, footers repeat across millions of pages): a line
    whose md5 fingerprint occurs ≥ ``min_count`` times in the whole
    corpus keeps only its FIRST occurrence (minimum (id, line_idx),
    deterministic and partition-invariant); rarer lines pass through.
    EMPTY lines pass through unconditionally: blank lines are not
    boilerplate evidence (C4/CCNet semantics), and — crucially for
    idempotence — reconstruction maps an all-lines-dropped document
    to ``""``, i.e. one NEW empty line; if empty lines participated
    in the fingerprint stats, a second pass could see a higher
    empty-line count and delete lines the first pass kept (found by
    hypothesis: ``texts=[[], ['nav']*3+[''], [], ['nav']],
    min_count=4``). Documents are reassembled in original line
    order; every input document appears in the output (possibly as
    an empty string).

    Scale shape: posexplode lines → one hash groupBy on the line
    fingerprint (map-side combined; a boilerplate line with 10^9
    occurrences is ONE aggregate row — no per-key window sort, the
    skew-safe alternative to row_number-over-fingerprint) + min of a
    (id, idx) struct for the first occurrence → equi-join back (stats
    side has one row per distinct line) → one groupBy on the unique
    doc id to rebuild. Empty lines bypass the join entirely (union
    after), so the hottest key in any web corpus — md5("") — never
    enters the shuffle. The join-back still hash-partitions all
    occurrences of a hot non-empty fingerprint into one task; the
    build side is one row per key, so AQE skew-join splitting
    (spark.sql.adaptive.skewJoin) handles it — leave AQE on at
    scale. Within-doc variant: ``textprep.dedup_consecutive_tokens``;
    whole-doc exact variant: ``exact_dedup``."""
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("_idx", "_line"),
    ).withColumn("_fp", F.md5(F.col("_line")))
    nonempty = lines.filter(F.col("_line") != "")
    stats = nonempty.groupBy("_fp").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(F.struct(F.col(id_col), F.col("_idx"))).alias("_first"),
    )
    kept = (
        nonempty.join(stats, "_fp")
        .filter(
            (F.col("_n") < int(min_count))
            | (
                (F.col(id_col) == F.col("_first")[id_col])
                & (F.col("_idx") == F.col("_first._idx"))
            )
        )
        .select(id_col, "_idx", "_line")
        .unionByName(
            lines.filter(F.col("_line") == "").select(id_col, "_idx", "_line")
        )
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("_idx", "_line"))).alias("_ls"))
        .select(
            F.col(id_col),
            F.concat_ws("\n", F.transform("_ls", lambda s: s["_line"])).alias(out_col),
        )
    )
    return df.select(id_col).join(rebuilt, id_col, "left").select(
        F.col(id_col), F.coalesce(F.col(out_col), F.lit("")).alias(out_col)
    )


def span_dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
    out_col: str = "text_deduped",
) -> DataFrame:
    """CORPUS-WIDE exact substring (token-span) deduplication — the
    Lee et al. 2021 "Deduplicating Training Data Makes Language Models
    Better" ExactSubstr step, re-expressed as joins: any ``k``-token
    window whose fingerprint occurs >= ``min_count`` times anywhere in
    the corpus is a duplicated span; every NON-FIRST occurrence (first
    = minimum (id, position), deterministic and partition-invariant)
    is excised from its document, and the surviving tokens are
    reassembled in order. Unlike
    line dedup the span grid is overlapping, so a duplicated region of
    any length >= k is covered by its k-windows without an alignment
    assumption. Like the reference suffix-array formulation this is
    NOT idempotent by construction: excision creates new token
    adjacencies, so a second pass can find new duplicated spans
    (documented Lee et al. behavior, tested).

    Scale shape (10^12 tokens): one posexplode to the k-gram grid
    (window slices read a materialized token-array attribute — O(k)
    per gram, no captured-expression re-evaluation), one map-side-
    combined groupBy on the gram fingerprint (a 10^9-occurrence
    boilerplate span is ONE aggregate row), one equi-join back
    (build side = one row per distinct gram; AQE skew-join splits hot
    fingerprints), a k-fanout explode ONLY on duplicated grams, one
    distinct on removed (id, token-pos) and one left_anti join against
    the token grid. md5 keeps the fingerprint engine-portable for the
    oracle; swap F.xxhash64 at scale where only internal consistency
    matters (half the shuffle bytes).

    Reference analog: the reference dedups whole records by key
    (/root/reference/osmdq/utils.py:365); sub-document span dedup is
    the web-corpus generalization (SURVEY.md section 8)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    toked = df.select(
        F.col(id_col), _tokens(text_col, distinct=False).alias("_toks")
    )
    grams = toked.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                F.size("_toks") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("_toks") - k),
                    lambda g: F.md5(F.concat_ws(" ", F.slice(F.col("_toks"), g + 1, k))),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_g", "_fp"),
    )
    stats = grams.groupBy("_fp").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(F.struct(F.col(id_col), F.col("_g"))).alias("_first"),
    )
    dup = grams.join(stats, "_fp").filter(F.col("_n") >= int(min_count)).filter(
        ~((F.col(id_col) == F.col(f"_first.{id_col}")) & (F.col("_g") == F.col("_first._g")))
    )
    removed = dup.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("_g"), F.col("_g") + (k - 1))).alias("_t"),
    ).dropDuplicates()
    toks = toked.select(
        F.col(id_col), F.posexplode(F.col("_toks")).alias("_t", "_tok")
    )
    kept = toks.join(removed, [id_col, "_t"], "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("_t", "_tok"))).alias("_ts"))
        .select(
            F.col(id_col),
            F.concat_ws(" ", F.transform("_ts", lambda s: s["_tok"])).alias(out_col),
        )
    )
    return df.select(id_col).join(rebuilt, id_col, "left").select(
        F.col(id_col), F.coalesce(F.col(out_col), F.lit("")).alias(out_col)
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    dup_col: str = "is_dup",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate flagging
    by clustering embeddings and comparing cosine similarity ONLY
    within a cluster — the blocking step that makes embedding dedup
    sub-quadratic. Each vector is assigned to its nearest ``centroid``
    (squared-L2 argmin, first minimum on ties — numpy argmin
    semantics); a vector is flagged duplicate iff some SMALLER-id
    vector in the same cluster has cosine >= ``threshold`` (keep-first
    convention, deterministic and partition-invariant). Centroids come
    from ``ml.fit_kmeans`` in production; the contract query freezes
    arithmetic centroids (the q72/q77 frozen-model pattern) so every
    float — assignment distances, norms, pair dots, the division —
    is a fixed left-assoc fold (ml.sql_sum, argmin by
    ml.first_argmin) an oracle engine replays bit-for-bit.

    Scale shape: assignment + norms are pure projections (zero
    shuffle; k staged distance columns keep each generated method
    under janino's 64 KB limit — see pq_encode); pair generation is a
    cluster equi-join, never a cross join, with O(sum of cluster
    size²) pair dots — SemDeDup's own construction, bounded by
    choosing k ∝ N/target_cluster_size (at 10^12 vectors feed the
    join from a MATERIALIZED assignment stage table and sub-block
    giant clusters with an md5-prefix salt on both sides). The dup
    flags join back on the unique id.

    Reference analog: the reference clusters user-feature vectors
    with KMeans and interprets clusters (SURVEY.md §2 M5/M9);
    SemDeDup is that clustering turned into a dedup blocking key
    (§8 embedding-cosine near-dup, cluster-blocked variant of
    embedding_neardup_pairs)."""
    if not centroids:
        raise ValueError("centroids must be non-empty")
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    dim = len(centroids[0])
    dc = [f"_dc_{j}" for j in range(len(centroids))]
    v = [sql_elem(sql_col(vec_col), t + 1) for t in range(dim)]
    diffs = [[f"({x} - {sql_lit(c)})" for x, c in zip(v, ctr)] for ctr in centroids]
    staged = df.select(
        id_col, vec_col, *[F.expr(f"{sql_sum(f'{x} * {x}' for x in d)} AS {n}") for d, n in zip(diffs, dc)]
    )
    staged = staged.withColumn(
        "_nm", F.expr(f"sqrt({sql_sum(f'{x} * {x}' for x in v)})")
    ).withColumn("_mind", F.least(*dc))
    assigned = staged.select(id_col, vec_col, "_nm", F.expr(f"{first_argmin(dc, '_mind')} AS {sql_col(cluster_col)}"))
    a = assigned.select(
        F.col(id_col).alias("_ida"),
        F.col(vec_col).alias("_va"),
        F.col("_nm").alias("_na"),
        F.col(cluster_col).alias("_cl"),
    )
    b = assigned.select(
        F.col(id_col).alias("_idb"),
        F.col(vec_col).alias("_vb"),
        F.col("_nm").alias("_nb"),
        F.col(cluster_col).alias("_cl"),
    )
    pairs = a.join(b, "_cl").filter(F.col("_ida") < F.col("_idb"))
    dot = sql_sum(f"{sql_elem('`_va`', t + 1)} * {sql_elem('`_vb`', t + 1)}" for t in range(dim))
    cos = F.expr(f"({dot}) / (`_na` * `_nb`)")
    dups = (
        pairs.filter(cos >= F.lit(float(threshold)))
        .select(F.col("_idb").alias(id_col))
        .dropDuplicates()
        .withColumn("_dup", F.lit(True))
    )
    return (
        assigned.select(id_col, cluster_col)
        .join(dups, id_col, "left")
        .select(
            F.col(id_col),
            F.col(cluster_col),
            F.coalesce(F.col("_dup"), F.lit(False)).alias(dup_col),
        )
    )


def neardup_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 8,
    shingle_n: int = 1,
    flag_col: str = "near_dup_in_corpus",
) -> DataFrame:
    """Incremental NEAR-dup dedup: flag (boolean ``flag_col``) NEW
    documents that share any MinHash LSH bucket with the ingested corpus —
    the delta-batch production shape of ``minhash_lsh_pairs`` (and the
    near-dup analog of ``dedup_against``'s exact check). A new doc is
    a candidate iff some (band, minhash) of its signature appears in
    the corpus signature set; precision/recall tune exactly as in
    ``minhash_signatures`` (n_bands, shingle_n; one row per band).

    Shape: both sides run the single-explode signature aggregation;
    the corpus side collapses to DISTINCT (band, minhash) — one row
    per occupied bucket regardless of corpus duplication — and the
    probe is one equi-join + one dropDuplicates on the new doc id.
    No pair explosion at all: the delta never joins doc×doc, only
    doc×bucket. At 10^12 ingested docs the bucket set is a persisted
    stage table bucketed on (band, minhash) (``bucketBy`` makes every
    delta's probe exchange-free), refreshed incrementally by unioning
    each accepted delta's signatures."""
    sig_new = minhash_signatures(
        new_df, id_col, text_col, n_bands, shingle_n
    )
    buckets = (
        minhash_signatures(
            corpus_df, id_col, text_col, n_bands, shingle_n
        )
        .select("band", "minhash")
        .dropDuplicates()
    )
    hit = (
        sig_new.join(buckets, ["band", "minhash"])
        .select(F.col("doc_id").alias(id_col))
        .dropDuplicates()
    )
    return (
        new_df.join(hit.withColumn("_hit", F.lit(True)), id_col, "left")
        .withColumn(flag_col, F.coalesce(F.col("_hit"), F.lit(False)))
        .drop("_hit")
    )


def contamination_score(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Graded benchmark-contamination score: the fraction of a
    document's DISTINCT word k-grams that appear anywhere in
    ``benchmark`` — the n-gram overlap metric of the GPT-3 /
    PaLM decontamination appendices (``decontaminate`` is the binary
    winnowing variant; this one grades, so a 0.9-overlap quiz page
    and a 0.02-overlap incidental quote can be thresholded apart).
    Output: (id, n_grams, n_hit, overlap_frac); overlap_frac is null
    for docs with < k tokens (no k-grams to score). The frac is one
    exact-int division — engine-portable with no rounding contract.

    Shape: one distinct-shingle explode per side, benchmark grams
    collapse to a DISTINCT broadcast set (benchmarks are small; drop
    the hint for a huge one and the equi-join shuffles), one left
    join + one map-side-combined groupBy on the doc id. No windows,
    no Python, no pair explosion."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    grams = df.select(
        F.col(id_col), F.explode(_shingles(text_col, k, distinct=True)).alias("_g")
    ).filter(F.col("_g") != "")
    bench = (
        benchmark.select(F.explode(_shingles(text_col, k, distinct=True)).alias("_g"))
        .filter(F.col("_g") != "")
        .dropDuplicates()
        .withColumn("_hit", F.lit(1))
    )
    scored = (
        grams.join(F.broadcast(bench), "_g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            # guard n_grams = 0 (< k tokens): ANSI mode makes 0/0 an
            # error, and null is the honest "nothing to score" anyway
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                F.col("n_hit") / F.col("n_grams"),
            ).alias("overlap_frac"),
        )
    )


def bloom_build(
    keys: DataFrame,
    key_col: str,
    m_bits: int,
    k: int = 3,
) -> DataFrame:
    """(word, bits) — a packed Bloom bitmap over ``keys[key_col]``:
    k md5-salted hash positions per key (salt ``"{j}:"`` prefixed, the
    engine-portable md5-prefix hash), OR-folded into 64-bit words by
    ONE map-side-combined groupBy. The approximate-membership build
    for deduping a stream against a reference key set too large to
    keep re-joining: the bitmap is ``m_bits/64`` rows REGARDLESS of
    build cardinality (10^11 ingested fingerprints → the same m/64-row
    table), built in one linear scan.

    Size m_bits for the false-positive budget: fp ≈ (1−e^(−kn/m))^k.
    The bitmap stays a DataFrame — ``bloom_probe`` broadcasts it when
    small; at billions of bits the probe join degrades gracefully to a
    shuffled equi-join on the word index (never data×data)."""
    if m_bits < 64 or m_bits % 64:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pos = _bloom_positions(key_col, m_bits, k)
    return (
        keys.select(F.explode(pos).alias("_p"))
        .groupBy(F.shiftright("_p", 6).alias("word"))
        # pyspark's shiftleft() insists on a literal bit count — the
        # SQL form takes a column
        .agg(F.bit_or(F.expr(_BIT_MASK)).alias("bits"))
    )


_BIT_MASK = "shiftleft(CAST(1 AS BIGINT), CAST(pmod(_p, 64) AS INT))"


def _bloom_positions(key_col: str, m_bits: int, k: int):
    key = F.col(key_col).cast("string")
    return F.array(
        *[
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{j}:"), key)), 1, 15), 16, 10
                ).cast("long"),
                F.lit(int(m_bits)),
            )
            for j in range(k)
        ]
    )


def bloom_probe(
    df: DataFrame,
    bitmap: DataFrame,
    key_col: str,
    m_bits: int,
    k: int = 3,
    id_col: str = "doc_id",
    flag_col: str = "maybe_present",
) -> DataFrame:
    """(id, maybe_present) — probe each row's key against a
    ``bloom_build`` bitmap: k exploded positions, one broadcast
    equi-join on the word index, and a per-id AND (min over booleans).
    ``maybe_present = false`` is a GUARANTEE the key was never built
    (no false negatives); ``true`` is approximate — route those rows
    to an exact check (``dedup_against``) or accept the disclosed
    false-positive rate. One explode (k rows/doc), no data×data join."""
    pos = _bloom_positions(key_col, m_bits, k)
    mask = F.expr(_BIT_MASK)
    return (
        df.select(F.col(id_col), F.explode(pos).alias("_p"))
        .withColumn("word", F.shiftright("_p", 6))
        .join(F.broadcast(bitmap), "word", "left")
        .select(
            id_col,
            (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(mask) != 0).alias("_hit"),
        )
        .groupBy(id_col)
        .agg(F.min("_hit").alias(flag_col))
    )
