"""Deterministic synthetic Common-Crawl-style pages (FIXTURES.md §B1).

Every column is a pure Spark-expression function of the row id
(``xxhash64`` seeded by column name), so the SAME bytes come out at any
parallelism / partition count — required for the byte-identical-text
invariant and the N-vs-4N scaling run (BASELINE.json north_rule).

The pages table is the analog of the reference's element-history
timeline (/root/reference/osmdq/data_preparation_tasks.py:63-64): an
append-only log whose per-record features drive clustering. Rows are
generated in K latent quality tiers with wide margins (clean prose /
boilerplate / symbol spam / repetitive / non-target-language) so that
the unsupervised pipeline and the numpy oracle recover identical
clusters (SURVEY.md §7.3 item 1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .storage import read_table

# Latent tiers. Only CLEAN (and, by language, FOREIGN-clean) documents
# should be kept by a quality filter; the rest are drop material.
TIER_CLEAN = 0
TIER_BOILERPLATE = 1
TIER_SPAM = 2
TIER_REPETITIVE = 3
TIER_FOREIGN = 4

# tier mix in percent (hash mod 100): clean 40, boiler 15, spam 15,
# repetitive 15, foreign 15.
_TIER_CUTS = [(40, TIER_CLEAN), (55, TIER_BOILERPLATE), (70, TIER_SPAM), (85, TIER_REPETITIVE), (100, TIER_FOREIGN)]

_EN_STOP = "the of and to in a is that it for on with as are was at be this have from or by".split()
_EN_CONTENT = (
    "system data query engine table partition shuffle vector column row batch plan filter join "
    "window cluster feature model quality document page crawl text language score metric stage "
    "checkpoint lineage throughput executor memory network storage format schema record value"
).split()
_CLEAN_VOCAB = _EN_STOP * 2 + _EN_CONTENT  # ~40% stopwords in clean prose

_BOILER_VOCAB = "home login register privacy terms cookies sitemap contact menu search cart checkout".split()

_SPAM_VOCAB = (
    "$$$ !!! win%% 1000000 @@@ ### free$$$ 77777 +++ ~~~ click!!! $9.99 %%% 0000 &&& ***".split()
)

_DE_STOP = "der die das und zu in ein ist dass es für auf mit als sind war bei sein dies haben von".split()
_DE_CONTENT = (
    "daten system anfrage tabelle spalte zeile merkmal modell dokument seite sprache wert "
    "speicher netz format schema satz qualität stufe leistung rechner".split()
)
_FOREIGN_VOCAB = _DE_STOP * 2 + _DE_CONTENT


def _h(seed: str, *cols: Column) -> Column:
    """Deterministic non-negative hash stream, one per seed string."""
    return F.abs(F.xxhash64(F.lit(seed), *cols))


def _pick_words(vocab: list[str], n_words: Column, *, seed: str) -> Column:
    """Array of ``n_words`` words drawn deterministically from vocab."""
    arr = F.array(*[F.lit(w) for w in vocab])
    return F.transform(
        F.sequence(F.lit(1), n_words.cast("int")),
        lambda i: F.element_at(arr, (F.pmod(_h(seed, F.col("id"), i), F.lit(len(vocab))) + 1).cast("int")),
    )


def tier_col(of: Column | None = None) -> Column:
    r = F.pmod(_h("tier", of if of is not None else F.col("id")), F.lit(100))
    expr = F.lit(TIER_FOREIGN)
    for cut, tier in reversed(_TIER_CUTS[:-1]):
        expr = F.when(r < cut, F.lit(tier)).otherwise(expr)
    return expr.cast("int")


def generate_pages(
    spark: SparkSession, n_rows: int, partitions: int | None = None, tier_by_host: bool = False
) -> DataFrame:
    """Build the pages table (url, warc_ts, html, text, lang, _tier).

    ``_tier`` is the latent ground-truth tier, used only by tests; the
    pipeline never reads it. With ``tier_by_host`` the tier is a
    function of the HOST (all pages of a host share a quality tier) —
    the fixture for the two-level host-labeling pipeline (the
    reference's users→elements shape, utils.py:332-341)."""
    df = spark.range(0, n_rows, 1, partitions or max(4, n_rows // 25_000))

    # Heavy-tailed host distribution: ~60% of pages live on 10 hot
    # hosts, the rest spread over 5000 — exercises salting/AQE skew.
    hh = _h("host", F.col("id"))
    host = F.when(F.pmod(hh, 100) < 60, F.pmod(_h("hot", F.col("id")), 10)).otherwise(
        F.pmod(_h("cold", F.col("id")), 5000) + 10
    )
    tier = tier_col(host) if tier_by_host else tier_col()

    n_clean = (F.pmod(_h("len", F.col("id")), 41) + 80).cast("int")  # 80..120 words
    n_boiler = (F.pmod(_h("len", F.col("id")), 21) + 20).cast("int")  # 20..40
    n_spam = (F.pmod(_h("len", F.col("id")), 31) + 40).cast("int")  # 40..70

    clean_words = _pick_words(_CLEAN_VOCAB, n_clean, seed="w.clean")
    boiler_words = _pick_words(_BOILER_VOCAB, n_boiler, seed="w.boiler")
    spam_words = _pick_words(_SPAM_VOCAB, n_spam, seed="w.spam")
    foreign_words = _pick_words(_FOREIGN_VOCAB, n_clean, seed="w.foreign")
    # Repetitive: a 6-word phrase repeated 20 times.
    phrase = _pick_words(_EN_CONTENT, F.lit(6), seed="w.phrase")
    rep_words = F.flatten(F.array_repeat(phrase, 20))

    body = (
        F.when(tier == TIER_CLEAN, F.concat_ws(" ", clean_words))
        .when(tier == TIER_BOILERPLATE, F.concat_ws(" ", boiler_words))
        .when(tier == TIER_SPAM, F.concat_ws(" ", spam_words))
        .when(tier == TIER_REPETITIVE, F.concat_ws(" ", rep_words))
        .otherwise(F.concat_ws(" ", foreign_words))
    )

    # ~10% of pages carry PII so the scrub path is exercised.
    pii_tail = F.concat(
        F.lit(" contact user"),
        F.pmod(_h("pii", F.col("id")), 1000).cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad(F.pmod(_h("pii2", F.col("id")), 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(F.pmod(_h("pii3", F.col("id")), 10000).cast("string"), 4, "0"),
    )
    text = F.when(F.pmod(_h("haspii", F.col("id")), 10) == 0, F.concat(body, pii_tail)).otherwise(body)

    url = F.concat(F.lit("https://host"), host.cast("string"), F.lit(".example/p/"), F.col("id").cast("string"))
    warc_ts = F.timestamp_seconds(F.lit(1700000000) + F.pmod(_h("ts", F.col("id")), 86400 * 365))
    lang = F.when(tier == TIER_FOREIGN, F.lit("de")).otherwise(F.lit("en"))
    html = F.encode(F.concat(F.lit("<html><body>"), text, F.lit("</body></html>")), "UTF-8")

    return df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
        tier.alias("_tier"),
    )


def pages_from_documents(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    """Adapt the driver's documents.parquet into the pages shape so the
    same pipeline runs over the fixture tables (TESTDATA.md). The table is
    read under its declared schema (storage.read_table), so no
    schema-inference job runs.

    ``spread`` redistributes the under-split single-row-group driver
    parquet across the session's cores (storage.spread_scan) so the
    downstream Arrow scorers and feature extraction parallelize (the
    pipeline makes several heavy passes over pages, so the one-time
    base-row shuffle amortizes); zero-shuffle contract queries opt
    out."""
    d = read_table(spark, sf_dir, "documents")
    if spread:
        # looked up per call: perfbench's tracer wraps storage.spread_scan
        from webdq.storage import spread_scan

        # bytes-scaled width: the pipeline runs ~20 short jobs over
        # this frame (probe, fit, Lloyd iterations), so full core
        # width on a tiny input costs more per-job scheduling than
        # the parallelism returns (see spread_scan)
        d = spread_scan(d, min_split_bytes=512 * 1024)
    return d.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/d/"), F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")), "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
