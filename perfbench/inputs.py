"""Seeded input generation for the benchmark.

Everything a run feeds the program is drawn here from generators seeded
by ``--seed``, so the same seed gives identical inputs. The program only
ever sees the generated values: ID lists for the CLI, and parquet tables
for the maintenance ticks.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# The ``documents`` table of the project's sf0.1 test data (TESTDATA.md:
# 5,000 docs, seed 42), its doc_id and text columns unchanged: the corpus
# the ticks maintain.
SF01_DOCUMENTS = os.path.join(HERE, "data", "sf0.1_documents.parquet")

# What the registered ``dedup_minhash_clusters_upsert`` query appends to
# a source text to make an ingest-batch near-duplicate of it.
APPEND_SUFFIX = " zzappend zzmarker zztail"


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per named input stream, so adding a
    stream never shifts the values another stream draws."""
    return np.random.default_rng([seed, *stream.encode()])


# ---------------------------------------------------------------------------
# redcap_etl: fresh study-ID sets of a fixed size
# ---------------------------------------------------------------------------


def etl_id_sets(seed: int, n_sets: int, ids_per_set: int) -> list[list[str]]:
    """``n_sets`` lists of distinct study IDs. IDs never repeat across
    sets, so every op extracts records no earlier op saw."""
    rng = rng_for(seed, "etl_ids")
    pool = rng.choice(10**7, size=n_sets * ids_per_set, replace=False)
    return [
        [f"K{v:07d}" for v in pool[i * ids_per_set : (i + 1) * ids_per_set]]
        for i in range(n_sets)
    ]


# ---------------------------------------------------------------------------
# maintenance_ticks: a document corpus and per-tick batches
# ---------------------------------------------------------------------------


def _docs_table(ids, texts) -> pa.Table:
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})


def _dup_key(text: str) -> str:
    """The text a document duplicates: its own, less the `` dup`` mark
    sf0.1 puts on its near-duplicate copies."""
    return text[: -len(" dup")] if text.endswith(" dup") else text


def base_sample(n_docs: int) -> pa.Table:
    """A fixed sample of about ``n_docs`` sf0.1 documents, the same in
    every run. It is drawn by duplicate group (a text together with its
    `` dup`` copies), so it keeps sf0.1's share of duplicated documents
    and the cluster shapes that come with them."""
    docs = pq.read_table(SF01_DOCUMENTS, columns=["doc_id", "text"])
    groups: dict[str, list[int]] = {}
    for i, text in enumerate(docs.column("text").to_pylist()):
        groups.setdefault(_dup_key(text), []).append(i)
    members = list(groups.values())
    rows: list[int] = []
    for g in np.random.default_rng(0).permutation(len(members)):
        if len(rows) >= n_docs:
            break
        rows += members[g]
    return docs.take(sorted(rows))


def tick_inputs(seed: int, out_dir: str, n_docs: int, n_ticks: int, batch: int, dup_deletes: int) -> list[dict]:
    """Write the base corpus and the document store to ``out_dir`` and
    return every tick's batches, ``{"delete": [...], "append": [...]}``.

    - ``documents``: ``base_sample(n_docs)``, the corpus the cluster
      state bootstraps from.
    - ``doc_store``: base plus every append batch a run can reach. Ticks
      resolve survivor texts against the store; ids not yet appended
      are never referenced.

    Each tick's batches are drawn from the documents live at that tick,
    so no id is taken down twice. The delete batch holds ``dup_deletes``
    documents that have a live near-duplicate and ``batch - dup_deletes``
    that have none, so every tick touches the same number of clusters.
    The append batch holds ``batch`` near-duplicates of live documents:
    the source text plus ``APPEND_SUFFIX``, as the registered upsert
    query makes them, with ids above every earlier id (the append
    transition's monotonic-id guard).
    """
    base = base_sample(n_docs)
    text = dict(zip(base.column("doc_id").to_pylist(), base.column("text").to_pylist()))
    key = {i: _dup_key(t) for i, t in text.items()}
    group: dict[str, set[int]] = {}
    for i, k in key.items():
        group.setdefault(k, set()).add(i)
    live = sorted(text)
    next_id = live[-1] + 1
    rng = rng_for(seed, "ticks")
    plan = []
    for _ in range(n_ticks):
        dup = [i for i in live if len(group[key[i]]) > 1]
        solo = [i for i in live if len(group[key[i]]) == 1]
        delete = sorted(
            rng.choice(dup, dup_deletes, replace=False).tolist()
            + rng.choice(solo, batch - dup_deletes, replace=False).tolist()
        )
        for i in delete:
            group[key[i]].discard(i)
        gone = set(delete)
        live = [i for i in live if i not in gone]
        append = list(range(next_id, next_id + batch))
        next_id += batch
        for i, src in zip(append, rng.choice(live, batch).tolist()):
            text[i], key[i] = text[src] + APPEND_SUFFIX, key[src]
            group[key[i]].add(i)
        live += append
        plan.append({"delete": delete, "append": append})

    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(base, f"{out_dir}/documents.parquet")
    app_ids = [i for b in plan for i in b["append"]]
    pq.write_table(
        pa.concat_tables([base, _docs_table(app_ids, [text[i] for i in app_ids])]),
        f"{out_dir}/doc_store.parquet",
    )
    return plan
