"""Write-path layers of the index and streaming code (traced run only).

``IndexTrace`` is a context manager.  While it is open it

- wraps the public write functions of ``operators.index_store``,
  ``operators.dedup`` and ``operators.similarity`` as module attributes
  (callers look them up on the module at call time) and sums each one's
  wall time;
- counts the files and bytes each ``index_store`` write leaves in the
  index directory (the delta or the new generation it committed);
- registers a ``StreamingQueryListener`` that counts executed
  micro-batches and sums their phase durations.

On exit the wrappers and the listener are removed.
"""

from __future__ import annotations

import importlib
import inspect
import os
import time

PKG = "etl_cpc_schema_spark.operators"

#: metric -> (module, function); nested calls each count their own wall
WRAPPED = {
    "index_store.write_delta_s": ("index_store", "write_delta"),
    "index_store.promote_generation_s": ("index_store", "promote_generation"),
    "operators.dedup.append_s": ("dedup", "append_to_dedup_index"),
    "operators.dedup.compact_s": ("dedup", "compact_dedup_index"),
    "operators.similarity.append_ivfpq_s": ("similarity", "append_to_ivfpq_index"),
}

#: metric -> ``StreamingQueryProgress.durationMs`` key, summed over batches
PHASES = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.query_planning_ms": "queryPlanning",
}

UNITS = {"streaming.batches": "count", "index_store.bytes_written_mb": "MB",
         "index_store.files_written": "count"}


def _tree_size(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if not n.startswith("."):  # skip Hadoop's .crc side files
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class IndexTrace:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.values = dict.fromkeys([*WRAPPED, *PHASES, *UNITS], 0.0)
        self._undo: list[tuple[object, str, object]] = []
        self._listener = None

    def metrics(self) -> dict[str, tuple[float, str]]:
        """Every metric with its unit; call after the context exits."""
        out = {}
        for k, v in self.values.items():
            unit = UNITS.get(k) or ("ms" if k in PHASES else "s")
            out[k] = (v / 2**20 if unit == "MB" else v, unit)
        return out

    def _written(self, fn_name: str, args: dict) -> str:
        from etl_cpc_schema_spark.operators import index_store as IS

        root = IS.active_root(args["path"])
        if fn_name == "write_delta":
            return os.path.join(root, IS.DELTAS, str(args["batch_key"]))
        return root  # promote_generation: the generation it just committed

    def _wrap(self, metric: str, module: str, name: str) -> None:
        mod = importlib.import_module(f"{PKG}.{module}")
        fn = getattr(mod, name)
        sig = inspect.signature(fn)
        counted = module == "index_store"

        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.values[metric] += time.perf_counter() - t0
                if counted:
                    files, size = _tree_size(self._written(name, sig.bind(*a, **kw).arguments))
                    self.values["index_store.files_written"] += files
                    self.values["index_store.bytes_written_mb"] += size

        setattr(mod, name, timed)
        self._undo.append((mod, name, fn))

    def __enter__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        values = self.values

        class Phases(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = event.progress.durationMs
                if "addBatch" in d:  # a batch that ran, not an idle trigger
                    values["streaming.batches"] += 1
                for metric, key in PHASES.items():
                    values[metric] += d.get(key, 0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        for metric, (module, name) in WRAPPED.items():
            self._wrap(metric, module, name)
        self._listener = Phases()
        self.spark.streams.addListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        # progress events reach the listener through Spark's listener
        # bus; drain it before the listener goes
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.spark.streams.removeListener(self._listener)
        for mod, name, fn in reversed(self._undo):
            setattr(mod, name, fn)
        self._undo.clear()
