"""Incremental / streaming dedup.

The reference's headline feature is online index maintenance —
per-point locked insertion (insertLSHRefine, src/divGraph.h:471-526).
Spark has no shared mutable index; the equivalent contract (new
documents join an existing corpus without recomputing it) is delivered
as idempotent micro-batches over one checkpointed state table, driven
either directly (incremental.dedup_increment) or by Structured
Streaming's foreachBatch (incremental.stream_dedup)."""
