"""The workloads.  Each one owns its generated inputs and exposes

* ``land(dir)``: write the inputs as parquet (benchmark work, untimed
  for the program);
* ``load(spark)``: read and cache them through the session layer
  (part of set-up);
* ``ingest(spark, tr)``, only with ``ingest_phases``: a step run once
  after the set-ups, returning a ``Result``;
* ``prepare()``: untimed inputs for the next request;
* ``kind(state)``: the request's kind (latency percentiles are taken
  per kind);
* ``request(state, tr)``: the timed request, returning its outputs;
* ``finish(state, out, tr)``: untimed checks and clean-up, returning a
  ``Result``;
* ``release()``: drop what ``load`` cached before the session stops.

``warmups`` requests run at the end of every set-up to pay first-call
costs.  After the last set-up, ``steady`` more untimed requests run.
The timed phase then sends whole passes of ``pass_len`` requests, sized
by ``nominal_s`` (see ``run.timed_requests``).  The JVM's JIT keeps
compiling for minutes, longer than a run; a fixed request count puts
the timed phase at the same point of that curve in every run.

A request's work is split by layer with ``tr.span(name)`` around each
call into the library's public functions.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
import histreq
from probes import dir_bytes


FILES_PER_TABLE = 8


@dataclass
class Result:
    rows: int                 # input rows or documents processed
    ok: bool                  # output matched the reference / truth
    counts: dict = field(default_factory=dict)   # per-request layer counts


def _tables_np(tables: dict) -> dict:
    return {name: {c: t.column(c).to_numpy(zero_copy_only=False)
                   for c in t.column_names}
            for name, t in tables.items()}


class HistFill:
    """A closed-loop stream of histogram requests over two cached tables.

    The stream cycles through one request of each of the eleven kinds
    (fixed shapes, seeded values).  Each request builds a histogram and calls
    ``to_numpy``: a job or a few, so driver plan building and Spark's
    per-job floor dominate.
    """

    name = "hist_fill"
    warmups = len(histreq.KINDS)      # one pass over the pool
    pass_len = len(histreq.KINDS)     # timed phase runs whole passes
    steady = len(histreq.KINDS)
    nominal_s = 0.2
    phases = ("fill.build", "result.compute")
    ingest_phases = ()
    counts = {"result.bins_returned": "count"}

    def __init__(self, seed: int):
        self.tables = {"lineitem": gen.lineitem(seed), "events": gen.events(seed)}
        self.rows = {k: t.num_rows for k, t in self.tables.items()}
        np_tables = _tables_np(self.tables)
        self.pool = histreq.request_pool(seed)
        self.refs = [histreq.reference(r, np_tables) for r in self.pool]

    def land(self, d: str) -> None:
        # several files per table, so the scan has a task for every core
        self.dir = d
        for name, t in self.tables.items():
            os.makedirs(os.path.join(d, f"{name}.parquet"))
            step = -(-t.num_rows // FILES_PER_TABLE)
            for i in range(FILES_PER_TABLE):
                pq.write_table(t.slice(i * step, step), os.path.join(
                    d, f"{name}.parquet", f"part-{i}.parquet"))

    def load(self, spark) -> None:
        import dask_histogram_spark as dhs
        from pyspark.sql import functions as F
        from dask_histogram_spark.session import load_tables

        self.dhs, self.F = dhs, F
        self.dfs = {k: df.cache() for k, df in
                    load_tables(spark, self.dir, names=tuple(self.tables)).items()}
        for k, df in self.dfs.items():
            if df.count() != self.rows[k]:
                raise RuntimeError(f"{k}: loaded row count differs")
        self.next = 0

    def prepare(self) -> int:
        p = self.next % len(self.pool)
        self.next += 1
        return p

    def kind(self, p: int) -> str:
        return self.pool[p]["kind"]

    def request(self, p: int, tr):
        req = self.pool[p]
        with tr.span("fill.build"):
            h = histreq.build(self.dhs, self.F, self.dfs[req["table"]], req)
        with tr.span("result.compute"):
            counts = h.to_numpy()[0]
        return h, counts

    def finish(self, p: int, out, tr) -> Result:
        req, (h, counts) = self.pool[p], out
        # both read the rows to_numpy already collected: no Spark job
        values = h.values() if req["storage"] in ("mean", "weighted_mean") else None
        cats = [h.categories(d) if a[0] == "strcat" else None
                for d, a in enumerate(req["axes"])]
        ok = histreq.matches(counts, values, cats, self.refs[p])
        return Result(histreq.rows_scanned(req, self.rows), ok,
                      {"result.bins_returned": int(np.size(counts))})

    def release(self) -> None:
        for df in self.dfs.values():
            df.unpersist()


class NeardupPipeline:
    """The dedup module over one seeded corpus.

    A request is the flagship near-dup chain: ``minhash_lsh_candidates``
    -> ``localCheckpoint`` -> ``jaccard_verify_pairs`` ->
    ``localCheckpoint`` -> ``dedup_clusters``, returning the clusters and
    the verified pairs.  The verified pairs are checkpointed so that
    verify and cluster time split cleanly.  Shuffle-heavy, many jobs per
    request.

    After the set-ups, ``ingest`` runs one incremental-ingest step, the
    same module used with writes beside reads: write the seen window as
    a bucketed signature table, read a batch of exact re-crawls, revised
    editions and fresh documents, probe it with ``dedup_incremental``
    (exact) and ``dedup_incremental_lsh`` (near-dup, by table name, so
    the ``__params`` sidecar is read through the sizing memo), then
    rewrite the table with the next window.  It runs once per run: in
    every set-up it would double the run's length.
    """

    name = "neardup_pipeline"
    warmups = 1
    pass_len = 1
    steady = 1
    nominal_s = 1.4
    phases = ("dedup.candidates", "dedup.verify", "dedup.cluster")
    ingest_phases = ("incremental.load", "incremental.exact",
                   "incremental.lsh", "io.write")
    counts = {"dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
              "dedup.verify_yield": "ratio", "dedup.recall": "ratio",
              "io.bytes_written": "bytes", "incremental.recall": "ratio"}
    TABLE = "pb_seen_sigs"
    # 16 bands of 2 rows: a pair at 5-gram Jaccard 0.85 shares no band
    # with probability (1 - 0.85**2)**16 ~ 1e-9, so a planted near
    # duplicate is always a candidate and recall must be exactly 1
    LSH = dict(num_perm=32, bands=16, hash_fn="fnv1a32")
    SIG = dict(LSH, max_bucket=64, n_buckets=16)

    def __init__(self, seed: int):
        self.corpus = gen.neardup_corpus(seed)
        self.n_docs = len(self.corpus["texts"])
        stream = gen.IngestStream(seed)
        self.seen = gen.docs_table(stream.seen_ids, stream.seen_texts)
        self.batch = stream.batch()
        stream.advance(self.batch)
        self.next_seen = gen.docs_table(stream.seen_ids, stream.seen_texts)

    def land(self, d: str) -> None:
        self.dir = d
        self.table_path = os.path.join(d, "tables", self.TABLE)
        self.paths = {k: os.path.join(d, f"{k}.parquet")
                      for k in ("documents", "seen", "batch", "next_seen")}
        pq.write_table(gen.docs_table(self.corpus["ids"], self.corpus["texts"]),
                       self.paths["documents"])
        pq.write_table(self.seen, self.paths["seen"])
        pq.write_table(gen.docs_table(self.batch["ids"], self.batch["texts"]),
                       self.paths["batch"])
        pq.write_table(self.next_seen, self.paths["next_seen"])

    def load(self, spark) -> None:
        from dask_histogram_spark.session import load_tables

        self.docs = load_tables(spark, self.dir, names=("documents",))[
            "documents"].select("doc_id", "text").cache()
        if self.docs.count() != self.n_docs:
            raise RuntimeError("documents: loaded row count differs")

    def ingest(self, spark, tr) -> Result:
        """The incremental-ingest step (see the class doc)."""
        from dask_histogram_spark.operators import (
            dedup_incremental, dedup_incremental_lsh, write_signature_table)
        from dask_histogram_spark.sources import read_table

        write_signature_table(read_table(spark, self.paths["seen"]),
                              self.TABLE, path=self.table_path, **self.SIG)
        with tr.span("incremental.load"):
            seen = read_table(spark, self.paths["seen"])
            new = read_table(spark, self.paths["batch"])
        with tr.span("incremental.exact"):
            exact = dedup_incremental(new, seen).collect()
        with tr.span("incremental.lsh"):
            # revised editions are planted at 5-gram Jaccard >= 0.9: a
            # 16-of-32 agreement gate misses one with probability ~1e-9,
            # and unrelated documents agree on almost no component
            near = dedup_incremental_lsh(new, self.TABLE,
                                         min_sig_matches=16).collect()
        with tr.span("io.write"):
            write_signature_table(read_table(spark, self.paths["next_seen"]),
                                  self.TABLE, path=self.table_path, **self.SIG)
        counts = {"io.bytes_written": (
            dir_bytes(self.table_path) + dir_bytes(self.table_path + "__params"))}
        ok = self._check_ingest(exact, near, counts)
        return Result(len(self.batch["ids"]) + self.seen.num_rows, ok, counts)

    def _check_ingest(self, exact, near, counts) -> bool:
        kinds = dict(zip(self.batch["ids"].tolist(), self.batch["kinds"]))
        want_exact = {i for i, k in kinds.items() if k != "recrawl"}
        ok = ({r.doc_id for r in exact} == want_exact
              and all(r.n_copies == 1 for r in exact))
        got = {r.doc_id: r.n_matched_seen for r in near}
        ok &= got.keys() == kinds.keys() and all(
            got[i] == (0 if k == "fresh" else 1) for i, k in kinds.items())
        dups = [i for i, k in kinds.items() if k != "fresh"]
        counts["incremental.recall"] = (
            sum(got.get(i, 0) >= 1 for i in dups) / len(dups))
        return ok

    def prepare(self) -> None:
        return None

    def kind(self, _state) -> str:
        return "chain"

    def request(self, _state, tr):
        from dask_histogram_spark.operators import (
            dedup_clusters, jaccard_verify_pairs, minhash_lsh_candidates,
            release_candidates_cache)

        with tr.span("dedup.candidates"):
            # planted pairs have 5-gram Jaccard >= 0.85: 10 of 32
            # components agree with probability 1 - 1e-12
            cands = minhash_lsh_candidates(
                self.docs, max_bucket=20, min_sig_matches=10, **self.LSH)
            pruned = cands.localCheckpoint()
        release_candidates_cache(cands)
        with tr.span("dedup.verify"):
            verified = jaccard_verify_pairs(pruned, self.docs, k=8,
                                            threshold=0.5, persist=True,
                                            broadcast_pairs=True)
            vck = verified.localCheckpoint()
            pairs = vck.collect()
        with tr.span("dedup.cluster"):
            clusters = dedup_clusters(vck).collect()
        return pruned, verified, vck, pairs, clusters

    def finish(self, _state, out, tr) -> Result:
        from dask_histogram_spark.operators import release_candidates_cache
        from dask_histogram_spark.operators.dedup import _release_local_checkpoint

        pruned, verified, vck, pairs, clusters = out
        counts = {}
        if tr.enabled:
            counts["dedup.candidate_pairs"] = pruned.count()
        # the release calls of the registry's dedup_pipeline row
        release_candidates_cache(verified)
        _release_local_checkpoint(pruned)
        _release_local_checkpoint(vck)
        return Result(self.n_docs, self._check(pairs, clusters, counts), counts)

    def _check(self, pairs, clusters, counts) -> bool:
        truth = self.corpus
        got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
        # every planted pair is found with its exact Jaccard, and no other
        ok = {r.doc_id: r.cluster_id for r in clusters} == truth["clusters"]
        ok &= got.keys() == truth["pairs"].keys() and all(
            abs(v - truth["pairs"][k]) < 1e-6 for k, v in got.items())
        counts["dedup.verified_pairs"] = len(got)
        counts["dedup.recall"] = (
            len(got.keys() & truth["pairs"].keys()) / len(truth["pairs"]))
        if "dedup.candidate_pairs" in counts:
            counts["dedup.verify_yield"] = (
                len(got) / max(counts["dedup.candidate_pairs"], 1))
        return ok

    def release(self) -> None:
        self.docs.unpersist()


WORKLOADS = {w.name: w for w in (HistFill, NeardupPipeline)}
