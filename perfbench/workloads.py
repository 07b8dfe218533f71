"""The benchmark's workloads. Each one drives the program only through
its public entry points and checks what the program produced.

A workload is built with ``max_ops``, the number of ops its generated
inputs cover; ``run.py`` never runs more. It has four parts, called in
this order by ``run.py``:

- ``setup()``: generate the inputs from the seed and build any state
  the ops need (counted in ``setup_s``);
- ``op(k)``: one closed-loop operation of identical shape; returns the
  bytes the op left on disk;
- ``check_op(k)``: after the timed window, whether op ``k``'s outputs
  are right;
- ``check_final()``: whether the end state is right (``None`` when the
  workload has no end state).
"""

from __future__ import annotations

import json
import math
import os

import inputs


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------------------
# redcap_etl: the paper's pipeline through the reference CLI lifecycle
# ---------------------------------------------------------------------------

# The synthetic REDCap transport answers every study ID with two events
# x four fields (np_dob, np_gender, visit_date, consent_complete). The
# CLI's field map keeps the three mapped fields and the *_complete form
# status, so every row is kept and none lands in the error channel.
ROWS_PER_ID = 8


class RedcapEtl:
    name = "redcap_etl"
    warmup_ops = 1  # the first op is cold (about three times a warm op)
    ids_per_op = 200  # two 100-ID extract partitions per op
    chunk_size = 250  # record_chunk_size: 1600 rows -> 7 envelopes

    def __init__(self, spark, work: str, seed: int, max_ops: int):
        from redcap_omop_etl_spark import cli

        self.cli = cli
        self.spark = spark
        self.work = work
        self.seed = seed
        self.max_ops = max_ops

    def setup(self) -> None:
        self.cfg = os.path.join(self.work, "etl.ini")
        with open(self.cfg, "w") as fh:
            fh.write(
                "[redcap]\nproject_id = 4242\nproject_type = bench\n"
                f"[datalake]\nrecord_chunk_size = {self.chunk_size}\n"
            )
        self.id_sets = inputs.etl_id_sets(self.seed, self.max_ops, self.ids_per_op)
        self.summaries: dict[int, dict] = {}

    def _out(self, k: int) -> str:
        return os.path.join(self.work, "payloads", f"op{k:04d}")

    def op(self, k: int) -> int:
        out = self._out(k)
        self.summaries[k] = self.cli.main(
            ["-c", self.cfg, "-f", "--ids", ",".join(self.id_sets[k]), "-w", out],
            spark=self.spark,
        )
        return dir_bytes(out)

    def check_op(self, k: int) -> bool:
        """Counts in the CLI summary and in the written envelopes match
        the counts derived from the op's generated IDs."""
        ids = set(self.id_sets[k])
        kept = ROWS_PER_ID * len(ids)
        chunks = math.ceil(kept / self.chunk_size)
        s = self.summaries.get(k, {})
        if (s.get("kept_rows"), s.get("error_rows"), s.get("chunks")) != (kept, 0, chunks):
            return False
        envelopes = []
        out = self._out(k)
        for f in sorted(os.listdir(out)):
            if f.startswith("part-"):
                with open(os.path.join(out, f)) as fh:
                    envelopes += [json.loads(line) for line in fh if line.strip()]
        records = [r for e in envelopes for r in e["redcap_records"]]
        return (
            sorted(e["chunk_number"] for e in envelopes) == list(range(1, chunks + 1))
            and len(records) == kept
            and {r["record_id"] for r in records} == ids
            and all(str(e["redcap_project_id"]) == "4242" for e in envelopes)
        )

    def check_final(self) -> bool | None:
        return None

    def envelopes(self, k: int) -> int:
        return int(self.summaries.get(k, {}).get("chunks", 0))


# ---------------------------------------------------------------------------
# maintenance_ticks: upsert ticks over the versioned state catalog
# ---------------------------------------------------------------------------


class MaintenanceTicks:
    name = "maintenance_ticks"
    warmup_ops = 1  # a second would push the full set of runs past its time budget
    n_docs = 400  # base corpus: a fixed sample of the sf0.1 documents
    batch = 10  # deletes and appends per tick
    dup_deletes = 2  # of the deletes, docs with a live near-duplicate

    def __init__(self, spark, work: str, seed: int, max_ops: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.max_ops = max_ops

    def setup(self) -> None:
        from redcap_omop_etl_spark import state

        corpus = os.path.join(self.work, "corpus")
        self.plan = inputs.tick_inputs(
            self.seed, corpus, self.n_docs, self.max_ops, self.batch, self.dup_deletes
        )
        self.done = 0
        docs = self.spark.read.parquet(f"{corpus}/documents.parquet")
        self.doc_store = self.spark.read.parquet(f"{corpus}/doc_store.parquet")
        self.catalog = state.StateCatalog(os.path.join(self.work, "state"))
        self.fp, _ = state.cluster_state_bootstrap(self.catalog, docs)

    def _ids(self, ids: list[int]):
        return self.spark.createDataFrame([(i,) for i in ids], "doc_id long")

    def op(self, k: int) -> int:
        """One upsert tick (delete batch, then append batch) against the
        latest committed version, then release and prune."""
        from redcap_omop_etl_spark import state
        from redcap_omop_etl_spark.caching import clear_session_memos, unpersist_operator_caches

        b = self.plan[k]
        self.done = k + 1
        append = self.doc_store.join(self._ids(b["append"]), "doc_id", "left_semi")
        v = state.cluster_state_tick(
            self.catalog, self.fp, self.doc_store, append_docs=append, delete_ids=self._ids(b["delete"])
        )
        unpersist_operator_caches()
        clear_session_memos()
        state.prune_versions(self.catalog, self.spark, state.CLUSTER_OP, self.fp)
        return dir_bytes(self.catalog.dir(state.CLUSTER_OP, self.fp, v))

    def check_op(self, k: int) -> bool:
        return True  # the tick chain is checked as a whole by check_final

    def check_final(self) -> bool:
        """The committed state after the last tick equals a fresh
        bootstrap over the final corpus (the tick == rebuild invariant)."""
        from redcap_omop_etl_spark import state

        # Live: the store less the deletes so far and the appends to come.
        gone = [i for b in self.plan[: self.done] for i in b["delete"]]
        gone += [i for b in self.plan[self.done :] for i in b["append"]]
        live = self.doc_store.join(self._ids(gone), "doc_id", "left_anti")
        fresh = state.StateCatalog(os.path.join(self.work, "rebuild"))
        fresh_fp, _ = state.cluster_state_bootstrap(fresh, live, fp="rebuild")
        got = self.catalog.load(self.spark, state.CLUSTER_OP, self.fp)
        want = fresh.load(self.spark, state.CLUSTER_OP, fresh_fp)

        def rows(df, cols):
            return sorted(tuple(r) for r in df.select(*cols).collect())

        return all(
            rows(got[frame], cols) == rows(want[frame], cols)
            for frame, cols in (("components", ["node", "component"]), ("hubs", ["band", "bucket", "hub"]))
        )
