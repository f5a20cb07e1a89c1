"""Sources & sinks: stage checkpointing with resume.

Sandbox storage is parquet; on a production cluster the same
CheckpointStore maps 1:1 onto Iceberg tables
(``writeTo(...).createOrReplace()`` + ``spark.catalog.tableExists``)."""
