"""``refresh`` workload: the daily corpus refresh, fed by the streaming
ingest.

Set-up (untimed, built by the code under test): every text- and dedup-side
artifact is materialized for a seeded base snapshot.

Each pass derives the next snapshot from the previous one by a seeded churn
(edited documents and added near copies) and then times three calls:

1. ``streaming.ingest.ingest_documents`` lands the snapshot in a new
   directory through an availableNow stream (foreachBatch sink, write-time
   digests, checkpoint);
2. ``llm.artifacts.update_all_incremental`` patches the artifacts from the
   previous snapshot to this one, fed the ingest's digests;
3. the ``llm_corpus_curation`` slug runs on the new snapshot, seeded from
   the artifact directory (pair graph, document signals), into the noop
   sink.

Every pass reads a snapshot directory no earlier call has seen, so no
session cache keyed on the input path serves it.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import checks
import gen
from tracing import dir_state, written_since

N_DOCS = 200
CHURN_FRAC = 0.02
SLUG = "llm_corpus_curation"
BASE_ARTIFACTS = ("pairs", "bands", "cc_labels", "doc_digests", "span_pos",
                  "spans", "span_stats", "spine", "signals")


class Refresh:
    ops_per_pass = 3
    ramp_passes = 0
    min_passes = 4  # the cold pass and three warm ones

    def __init__(self, spark, work: str, seed: int, tracer):
        from pyspark_coding_challenge_spark.llm import artifacts as A

        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.art = os.path.join(work, "artifacts")
        self.docs = gen.corpus_documents(seed, N_DOCS)
        self.snap = self._write_source(0)
        digest = A.corpus_digest(spark, self.snap)
        for name in BASE_ARTIFACTS:
            getattr(A, f"materialize_{name}")(spark, self.snap, self.art, digest)
        # the consumers seed from the artifact directory from here on
        os.environ[A.ENV_ARTIFACT_DIR] = self.art
        self.summaries = []

    def _ingest_dir(self, i: int) -> str:
        return os.path.join(self.work, f"snapshot_{i}")

    def _write_source(self, i: int) -> str:
        src = os.path.join(self.work, f"source_{i}")
        gen.write_corpus(src, self.docs)
        return src

    def prepare_pass(self, i: int) -> tuple[str, str]:
        self.docs = gen.churn_documents(self.seed, i + 1, self.docs, CHURN_FRAC)
        return self._write_source(i + 1), self._ingest_dir(i + 1)

    def run_pass(self, inputs: tuple[str, str]) -> None:
        from pyspark_coding_challenge_spark import registry
        from pyspark_coding_challenge_spark.llm import artifacts as A
        from pyspark_coding_challenge_spark.llm import dedup as D
        from pyspark_coding_challenge_spark.llm import text as T
        from pyspark_coding_challenge_spark.streaming.ingest import (
            ingest_digests_relation,
            ingest_documents,
        )

        src, snap = inputs
        t = self.tracer
        with t.span("streaming.ingest", "plans.build"):
            ingest_documents(self.spark, src, snap)
        before = dir_state(self.art) if t.enabled else None
        with t.span("artifacts.update", "plans.build"):
            summary = A.update_all_incremental(
                self.spark, self.snap, snap, self.art,
                new_digests=ingest_digests_relation(self.spark, snap))
        if t.enabled:
            files, mb = written_since(before, dir_state(self.art))
            t.add("artifacts.files_written", files)
            t.add("artifacts.mb_written", mb)
            # the builders the slug consumes, timed on their own first
            with t.span("llm.pairs", "plans.build"):
                D.verified_pairs_for_dir(self.spark, snap)
            with t.span("llm.signals", "plans.build"):
                T.shared_doc_signals_for_dir(self.spark, snap)
        with t.span("plans.build", f"slug.{SLUG}", "llm.consumers"):
            df = registry.queries()[SLUG](self.spark, snap)
        t.planning(df)
        with t.span("exec", f"slug.{SLUG}", "llm.consumers"):
            df.write.format("noop").mode("overwrite").save()
        self.summaries.append(summary)
        self.snap, self.last_df = snap, df

    # -- check ----------------------------------------------------------------

    def check(self) -> list[str]:
        """After the last refresh: every refresh took the incremental path;
        the ingested snapshot holds exactly the generated documents with
        correct digests; the slug matches its DuckDB oracle; the patched
        pair graph and CC labels equal a full rebuild of the snapshot. Also
        proves each comparison rejects a corrupted result."""
        import pyarrow.dataset as ds

        from pyspark_coding_challenge_spark import registry
        from pyspark_coding_challenge_spark.llm import artifacts as A
        from pyspark_coding_challenge_spark.streaming.ingest import (
            DIGESTS_LEAF,
            DOCS_LEAF,
        )

        fails = []
        for i, s in enumerate(self.summaries):
            modes = (s["dedup"].get("mode"), s["text"].get("mode"))
            if modes != ("incremental", "incremental"):
                fails.append(f"refresh {i} was not incremental: {modes}")

        # ingest: rows and write-time digests
        cols = ["doc_id", "text", "lang", "source", "n_chars"]
        landed = ds.dataset(os.path.join(self.snap, DOCS_LEAF)).to_table(
            columns=cols).to_pylist()
        got_docs = (cols, checks.rows_of(cols, [tuple(r[c] for c in cols)
                                                for r in landed]))
        want_docs = (cols, checks.rows_of(cols, self.docs))
        fails += checks.diff("ingested documents", got_docs, want_docs)
        dig = ds.dataset(os.path.join(self.snap, DIGESTS_LEAF)).to_table(
            columns=["doc_id", "digest"]).to_pylist()
        got_dig = {(r["doc_id"], r["digest"]) for r in dig}
        want_dig = {(d[0], hashlib.md5(d[1].encode()).hexdigest())
                    for d in self.docs}
        if got_dig != want_dig:
            fails.append("ingest digests differ from md5(text)")

        # the slug against its oracle, on the same snapshot
        docs_glob = os.path.join(self.snap, DOCS_LEAF, "*.parquet")
        # the last pass's result: its eager part ran in the pass
        got = checks.spark_rows(self.last_df)
        want = checks.oracle_rows(registry.oracle_sql()[SLUG],
                                  {"documents": docs_glob})
        fails += checks.diff(SLUG, got, want)

        # incremental == full: rebuild from a copy no cache has seen, with
        # artifact seeding off
        full_src = os.path.join(self.work, "full_source")
        full_art = os.path.join(self.work, "full_artifacts")
        gen.write_corpus(full_src, self.docs)
        os.environ.pop(A.ENV_ARTIFACT_DIR, None)
        digest = A.corpus_digest(self.spark, full_src)
        A.materialize_pairs(self.spark, full_src, full_art, digest)
        A.materialize_cc_labels(self.spark, full_src, full_art, digest)
        pairs = (self._artifact(self.art, A.PAIRS_NAME),
                 self._artifact(full_art, A.PAIRS_NAME))
        labels = (self._artifact(self.art, A.CC_NAME),
                  self._artifact(full_art, A.CC_NAME))
        fails += checks.diff("patched pair graph", *pairs)
        fails += checks.diff("patched cc labels", *labels)

        # self-test: each comparison must reject a corrupted result
        def corrupt(res):
            cols, rows = res
            first = list(rows[0])
            first[-1] = -1 if first[-1] != -1 else -2
            return cols, [tuple(first)] + rows[1:]

        cases = {
            "slug output": (corrupt(got), want),
            "slug row set": ((got[0], got[1][1:]), want),
            "pair graph": (corrupt(pairs[0]), pairs[1]),
            "cc labels": (corrupt(labels[0]), labels[1]),
            "ingested documents": (corrupt(got_docs), want_docs),
        }
        for what, (a, b) in cases.items():
            if not checks.diff(what, a, b):
                fails.append(f"self-test: a corrupted {what} was not rejected")
        shutil.rmtree(full_art, ignore_errors=True)
        return fails

    def _artifact(self, art_dir: str, name: str):
        return checks.spark_rows(self.spark.read.parquet(os.path.join(art_dir, name)))
