"""kgpipe — a from-scratch PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of the reference pipeline
(`ait-ngcms/scoregraph`: XML-field->RDF mapping rules, authority-dictionary
enrichment, name dedup, triple materialization + stats; see SURVEY.md §0.3 —
reference tree empty at build time, provenance tags in SURVEY.md) as an
idiomatic Spark DataFrame job over multi-turn conversation transcripts
(BASELINE.json north_star / input_hint).

Layout:
  session.py     SparkSession factory with scale-tuned configs
  schemas.py     explicit StructType for every dataset (never inferSchema)
  rules.py       declarative extraction rule set — single source of truth
                 executed by BOTH the Spark pipeline and the pandas oracle —
                 plus the union-find clustering the oracle and Stage D's
                 small-input (all-pairs) path share
  synth.py       deterministic synthetic transcript/entity-dict generator
  oracle.py      single-process pandas oracle (golden-fixture producer)
  extract.py     Stage B: mention detection + triple extraction (Arrow UDFs)
  link.py        Stage C: broadcast-dictionary entity linking + top-k
  canon.py       Stage D: MinHash-LSH blocking (lsh_pairs, the one band
                 join + Jaccard check, also used by dedup.py) +
                 iterative-join connected components + canonical rewrite
                 (the one owner of the label table's broadcast)
  pipeline.py    Stage A..E orchestration, checkpoint/resume, metrics
  io_tables.py   Iceberg-style table shim (partitioned parquet + manifest)
  relational.py  SURVEY.md §2 relational operator matrix (queries/oracles)
  dedup.py       document dedup: exact / MinHash-LSH / SimHash / n-gram
  textstats.py   language-id, quality score, token count, fingerprints
  ann.py         embedding similarity search: exact top-k (brute force, BLAS),
                 approximate top-k (sign-LSH, IVF), blocked cosine self-join
  multimodal.py  binary-column plumbing for image/audio payloads (decode
                 stubbed — libs absent in sandbox)
  streaming.py   Structured Streaming ingestion of arriving turns
"""

__version__ = "0.1.0"
