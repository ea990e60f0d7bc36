"""Query modules — importing this package registers every query.

Each module covers one band of the SURVEY.md §2 inventory:

    relational   — scans, filters, joins (inner/outer/semi/anti), group-by
                   aggregations, rollup/cube, set ops, sorts/top-k
    storage      — the snapshot store's demos: copy-on-write commits,
                   time travel, change feeds, pruning sidecars, deletion
                   vectors, schema evolution, branches and clones
    windows     — ranking, lag/lead, moving averages, YTD running totals
    warehouse    — the reference's upsert / dedupe / QA-ledger semantics
                   re-expressed over the driver tables
    events       — date/time functions, JSON extraction, tumbling/session
                   windows, as-of join
    text         — tokenization, quality scoring, language heuristics,
                   fingerprinting, exact + fuzzy dedup
    curation     — training-data ordering / source mixing / tokenizer-
                   training steps (deterministic shuffle, temperature
                   weights, BPE pair census)
    similarity   — embedding cosine top-k (brute force + LSH-bucketed)
    multimodal   — binary-column plumbing with typed metadata
    ingest_demo  — the reference-shaped Excel ingest pipeline end-to-end
    streaming_demo — bounded Structured Streaming runs whose terminal
                   output is oracle-checked like any batch query
"""

from financial_data_warehouse_automation_spark.queries import (  # noqa: F401
    curation,
    events,
    ingest_demo,
    multimodal,
    relational,
    storage,
    similarity,
    streaming_demo,
    text,
    tpch_deep,
    warehouse,
    windows,
)
