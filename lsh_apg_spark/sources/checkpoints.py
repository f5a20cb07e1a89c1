"""Stage checkpoint store with cache-or-build resume semantics.

Maps the reference's index persistence (S4-S8 of SURVEY.md §2.1):
``ben_create`` load-if-exists-else-build (src/Preprocess.cpp:227-254)
and the LSH/graph save/load pair (src/e2lsh.cpp:462-495,
src/divGraph.h:1336-1388). A stage is reused only if its sidecar
records the identical DedupConfig — rerunning with a changed config
invalidates downstream stages automatically — and, when the caller
sets ``input_id``, the identical input.

Each checkpoint carries per-partition lineage in a sidecar JSON
(stage name, config id, input id, row count, per-part-file row counts,
wall time) — the north_rule's "per-partition lineage + metrics". The
row counts come from the written part files' parquet footers, so the
sidecar costs no Spark job."""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from lsh_apg_spark.config import DedupConfig


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str, cfg: DedupConfig):
        self.spark = spark
        self.root = root
        self.cfg = cfg
        # fingerprint of the input the stages are built from; None
        # means the caller does not gate on it (the incremental store,
        # whose input changes every batch by design)
        self.input_id: str | None = None
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _sidecar(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.lineage.json")

    def exists(self, name: str) -> bool:
        """Stage is resumable iff data + sidecar exist AND the sidecar's
        config id matches the current config (the identical-config gate)."""
        return self.status(name) == "ok"

    def status(self, name: str) -> str:
        """Three-way stage state — "ok" (resumable), "missing" (never
        written / incomplete), or "mismatch" (data present but written
        under a DIFFERENT config/schema version, or from a different
        input than ``input_id`` when that is set). Callers that hold
        accumulated state (the incremental pipeline) must treat
        "mismatch" as an error, not an empty start: silently starting
        from an empty store would overwrite the accumulated corpus with
        just the current batch (ADVICE r2)."""
        side = self._sidecar(name)
        if not (os.path.exists(side)
                and os.path.exists(os.path.join(self._path(name), "_SUCCESS"))):
            return "missing"
        try:
            with open(side) as f:
                meta = json.load(f)
        except (json.JSONDecodeError, OSError):
            return "missing"
        if meta.get("config_id") != self.cfg.config_id() or (
                self.input_id is not None
                and meta.get("input_id") != self.input_id):
            return "mismatch"
        return "ok"

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._path(name))

    def write(self, df: DataFrame, name: str,
              meta: Callable[[], dict] | None = None) -> DataFrame:
        return self.write_many({name: df}, meta)[name]

    def write_many(self, named: dict[str, DataFrame],
                   meta: Callable[[], dict] | None = None,
                   ) -> dict[str, DataFrame]:
        """Two-phase overwrite of several stages whose plans may READ the
        current checkpoints (the incremental-state refresh): first
        materialize every new table to a tmp dir while the old files are
        still on disk, then swap all paths. Swapping one-at-a-time would
        break later writes whose lazy plans scan an already-replaced
        path (Spark resolves parquet file lists at read time, and an
        in-place overwrite produces new file names). The Iceberg
        production analogue is snapshot isolation — a writer never
        deletes files a concurrent reader's snapshot references.

        ``meta``, if given, is called after the writes and its entries
        are added to every written sidecar (for values an Observation on
        the write job supplies)."""
        t0 = time.monotonic()
        tmps: dict[str, str] = {}
        for name, df in named.items():
            tmp = self._path(name) + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            df.write.mode("overwrite").parquet(tmp)
            tmps[name] = tmp
        extra = meta() if meta is not None else {}
        out: dict[str, DataFrame] = {}
        for name, tmp in tmps.items():
            path = self._path(name)
            shutil.rmtree(path, ignore_errors=True)
            os.replace(tmp, path)
            out[name] = self._finish(name, t0, extra)
        return out

    def _finish(self, name: str, t0: float, extra: dict) -> DataFrame:
        path = self._path(name)
        parts = [
            {"file": f,
             "rows": pq.ParquetFile(os.path.join(path, f)).metadata.num_rows}
            for f in sorted(os.listdir(path)) if f.startswith("part-")
        ]
        meta = {
            "stage": name,
            "config_id": self.cfg.config_id(),
            "input_id": self.input_id,
            **extra,
            "rows": sum(p["rows"] for p in parts),
            "partitions": parts,
            "wall_sec": round(time.monotonic() - t0, 3),
            "written_at_epoch": int(time.time()),
        }
        with open(self._sidecar(name), "w") as f:
            json.dump(meta, f, indent=1)
        return self.spark.read.parquet(path)

    def get_or_create(self, name: str, builder: Callable[[], DataFrame],
                      meta: Callable[[], dict] | None = None) -> DataFrame:
        """The ben_create contract: load if checkpointed, else build,
        persist, and read back (so downstream plans start from the
        materialized table, truncating lineage)."""
        if self.exists(name):
            return self.read(name)
        return self.write(builder(), name, meta)

    def lineage(self, name: str) -> dict | None:
        side = self._sidecar(name)
        if not os.path.exists(side):
            return None
        with open(side) as f:
            return json.load(f)

    def clear(self) -> None:
        """Empty the root: every table, tmp dir and sidecar, including
        tables an older store layout wrote and nothing reads now."""
        shutil.rmtree(self.root)
        os.makedirs(self.root)
