"""webdq — PySpark-native web-document quality-filter engine.

Re-expresses the feature-extraction → normalization → PCA → KMeans →
per-record quality-label core of Oslandia/osm-data-classification
(reference at /root/reference, surveyed in SURVEY.md) as an idiomatic
Spark DataFrame pipeline over Common-Crawl-style pages
(url, warc_ts, html, text, lang).

Modules
-------
session    SparkSession builder with scale-oriented defaults
synth      deterministic synthetic pages generator (FIXTURES.md §B1)
textstats  char-level heuristic features, pure Spark expressions (§2.7)
scorers    Arrow pandas UDFs: langid, hashed n-gram perplexity (§2.9)
scrub      regex PII/toxicity scrubbing, native expressions
normalize  exact parallel ECDF + winsorizing (§2.4-2.5)
ml         covariance+eig, auto-PCA, DataFrame-native KMeans, elbow (M2-M8)
label      cluster → keep/drop mapping + broadcast label join (M9/J6)
pipeline   checkpointed resumable stages + lineage/metrics (§4)
hostagg    two-level labeling: host metadata → host clusters → pages (M9)
dedup      exact / MinHash-LSH (r rows/band) / portable SimHash / n-gram-Jaccard /
           embedding dedup
similarity brute-force + multi-table sign-LSH + IVF cosine top-k ANN
density    distributed DBSCAN (grid equi-join + min-label components)
multimodal binary media columns with real pure-numpy PPM/JPEG/WAV/AVI codecs
jpegcodec  pure-numpy baseline JPEG decoder + encoder
textprep   token-window chunking, repetition removal, token counting
storage    partitioned (pruned) layout + scan spreading
oracle     driver-side pandas/numpy reference implementation (tests)
"""

__version__ = "0.1.0"
