"""The benchmark's workloads and the layer calls its traced run times.

Each workload prepares seeded inputs and their oracle result once, then runs
passes: ``run_pass`` is the timed region and ``check`` is the correctness gate
that follows every pass, outside the timed window.

* ``extract_mixed`` -- the job users run: ``cli.main(["extract", ...])`` on a
  fresh output and state directory over a FIXTURES-profile corpus.  The
  ``operators.fused`` Arrow kernel, the parquet write and the
  ``state.manifest`` commit do its work; no vector kernel runs.
* ``vector_topk`` -- ``ivf_topk`` (16 centroids, 4 probes, k=3), then
  ``lsh_topk_multiprobe`` (the contract's planes, 2 flips, k=3) over
  clustered float32[64] vectors.  It is the only load on ``_pair_scan`` and
  the JVM LSH join, and it bypasses extraction and the manifest.
"""

from __future__ import annotations

import importlib
import multiprocessing as mp
import os
import shutil
import statistics
import time
from contextlib import contextmanager, nullcontext
from unittest import mock

import pyarrow as pa
import pyarrow.compute as pc

import corpus
import gates

# extract_mixed: 8,000 fixture documents plus its 8 edge cases; the
# generator makes 8 of them mega documents, each far below extract()'s
# fused_max_spans routing threshold
DOCS, MEGA_SPANS = 8_000, 2_500
# vector_topk: query vectors (every vector queries the whole set)
VECTORS, CLUSTERS, DIM = 800, 12, 64
# shards for the layers a workload does not exercise itself, and the fixed
# shard for the classify / levels / vote layers
SIDE_DOCS, SIDE_VECTORS, LEVELS_DOCS, VOTE_ENTITIES = 1_000, 300, 150, 500
PROBE_REPS = 3      # calls per layer probe; self time needs >= 3 per side
LEVELS_REPS = 1     # calls per classify / levels / vote probe


class NullTracer:
    """Stands in for ``Tracer`` in untraced passes."""

    def span(self, name):
        return nullcontext()

    def mark(self, name):
        pass


class Tracer:
    """Times calls into the package's public functions and tags the Spark
    jobs each call starts with a job group ``<tag>|<layer name>``, so the
    event log can be reduced per layer.  Outside any span, jobs carry no
    group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.tag = "-"
        self.times: dict[str, list[float]] = {}
        self.tags: dict[str, list[str]] = {}
        self.own_s = 0.0                # time spent changing job groups
        self._stack: list[list] = []    # [name, start, is_mark]

    def begin_pass(self, tag: str, kind: str) -> None:
        """Name the job groups of the next pass; ``kind`` collects tags of
        passes over the same input (``main`` or ``side``)."""
        self.tag = tag
        self.tags.setdefault(kind, []).append(tag)

    def _regroup(self):
        t0 = time.perf_counter()
        if self._stack:
            name = self._stack[-1][0]
            self._sc.setJobGroup(f"{self.tag}|{name}", name)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        self.own_s += time.perf_counter() - t0

    def _pop(self):
        name, t0, _ = self._stack.pop()
        self.times.setdefault(name, []).append(time.perf_counter() - t0)

    @contextmanager
    def span(self, name):
        self._stack.append([name, time.perf_counter(), False])
        self._regroup()
        depth = len(self._stack)
        try:
            yield
        finally:
            while len(self._stack) >= depth:
                self._pop()
            self._regroup()

    def mark(self, name):
        """Open a span that the next ``mark`` or ``close_marks`` ends, for a
        step that has no call of its own to wrap."""
        self.close_marks()
        self._stack.append([name, time.perf_counter(), True])
        self._regroup()

    def close_marks(self):
        while self._stack and self._stack[-1][2]:
            self._pop()
        self._regroup()

    def median(self, name) -> float:
        return statistics.median(self.times[name])


def noop(df) -> None:
    """Materialize a DataFrame without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


def size_bytes(path: str) -> int:
    """Bytes in a file, or in all files under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class ExtractMixed:
    name = "extract_mixed"

    def __init__(self, work: str, seed: int, n_docs: int = DOCS,
                 shards: int = 4):
        self.work = work
        self.input = os.path.join(work, "documents")
        structure, self.expected = prepare_documents(self.input, n_docs,
                                                     seed, shards)
        self.input_bytes = size_bytes(self.input)
        self.items = len(structure)
        # the layer probes read the first shard only: docs[0::shards]
        self.probe_input = (self.input if shards == 1 else
                            os.path.join(self.input, "part-00000.parquet"))
        probe_docs = structure[::shards]
        probe_out = self.expected.filter(pc.is_in(
            self.expected["doc_id"], pa.array([d for d, _ in probe_docs])))
        self.probe_shape = {
            "docs": len(probe_docs),
            "spans_in": sum(len(spans) for _, spans in probe_docs),
            "spans_out": pc.sum(
                pc.list_value_length(probe_out["spans"])).as_py()}
        self._n = 0
        self.last_dirs = None

    def _dirs(self):
        self._n += 1
        return (os.path.join(self.work, f"out-{self._n}"),
                os.path.join(self.work, f"state-{self._n}"))

    def run_pass(self, spark, tracer=NullTracer()):
        from vlm_ocr_doc_reader_spark import cli
        out, state = self._dirs()
        argv = ["extract", "--input", self.input, "--output", out,
                "--state", state]
        if isinstance(tracer, NullTracer):
            cli.main(argv)
            return out, state
        with _traced_cli(cli, tracer):
            cli.main(argv)
        return out, state

    def check(self, result, keep: bool = False) -> int:
        """Mismatching documents plus manifest rows that do not match the
        input document count; 0 passes."""
        out, state = result
        bad = gates.extraction_mismatches(gates.read_extraction(out),
                                          self.expected)
        bad += abs(gates.manifest_rows(state) - self.items)
        if keep:
            if self.last_dirs:
                _remove(*self.last_dirs)
            self.last_dirs = result
        else:
            _remove(out, state)
        return bad


def _prepare_shard(docs, seed, path):
    from vlm_ocr_doc_reader_spark.fixtures.generate import (
        write_documents_parquet)
    docs = corpus.reword(docs, seed)
    write_documents_parquet(docs, path)
    return gates.oracle_rows(docs)


def prepare_documents(path: str, n_docs: int, seed: int, shards: int):
    """Write the extraction input for ``seed`` to ``path`` and compute the
    oracle's output for it.  Returns the structure corpus (the documents
    before re-wording) and the oracle table.  Each shard is re-worded,
    written and run through the pure-Python oracle in a spawned worker of
    its own; the shards are the round-robin split ``docs[s::shards]`` in
    ``part-<s>.parquet`` files that ``write_documents_parquet`` makes, so the
    mega documents land in different files.  One shard is a single file at
    ``path``."""
    structure = corpus.structure(n_docs, MEGA_SPANS)
    paths = [path]
    os.makedirs(path if shards > 1 else os.path.dirname(path),
                exist_ok=True)
    if shards > 1:
        paths = [os.path.join(path, f"part-{s:05d}.parquet")
                 for s in range(shards)]
    pool = mp.get_context("spawn").Pool(shards)
    try:
        parts = pool.starmap(_prepare_shard, [
            (structure[s::shards], seed, p) for s, p in enumerate(paths)])
        pool.close()
    finally:
        pool.terminate()
        pool.join()
    return structure, gates.oracle_table(r for part in parts for r in part)


@contextmanager
def _traced_cli(cli, tracer):
    """Wrap the package functions ``cli._run_extract`` calls, so one CLI
    pass reports its output-write and manifest-commit steps."""
    extract, commit = cli.extract, cli.commit_phase

    def extract_(*a, **k):
        df = extract(*a, **k)
        tracer.mark("cli.output_write")    # the write runs right after
        return df

    def commit_phase(*a, **k):
        tracer.close_marks()
        with tracer.span("state.manifest.commit_phase"):
            return commit(*a, **k)

    with mock.patch.object(cli, "extract", extract_), \
            mock.patch.object(cli, "commit_phase", commit_phase), \
            tracer.span("cli.main"):
        yield


def _remove(*paths):
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


class VectorTopk:
    name = "vector_topk"

    def __init__(self, work: str, seed: int, n: int = VECTORS):
        from vlm_ocr_doc_reader_spark import contract
        self.planes = contract._PLANES_LSH
        os.makedirs(work, exist_ok=True)
        self.input = os.path.join(work, f"embeddings-{n}.parquet")
        corpus.write_vectors(corpus.vectors(n, CLUSTERS, DIM, seed),
                             self.input)
        self.input_bytes = os.path.getsize(self.input)
        self.items = n
        self.expected = gates.vector_oracles(
            self.input, contract._oracle_ivf_topk(),
            contract._oracle_lsh_multiprobe())

    def run_pass(self, spark, tracer=NullTracer()):
        from vlm_ocr_doc_reader_spark.datapipe.similarity import (
            ivf_topk, lsh_topk_multiprobe)
        from vlm_ocr_doc_reader_spark.sources.readers import (
            ensure_min_partitions)
        emb = ensure_min_partitions(spark.read.parquet(self.input))
        with tracer.span("datapipe.similarity.ivf_topk"):
            ivf = ivf_topk(emb, n_centroids=16, n_probe=4, k=3).toPandas()
        with tracer.span("datapipe.similarity.lsh_topk_multiprobe"):
            lsh = lsh_topk_multiprobe(emb, self.planes, k=3,
                                      n_flip=2).toPandas()
        return ivf, lsh

    def check(self, result, keep: bool = False) -> int:
        ivf, lsh = result
        return (gates.vector_mismatches(ivf, self.expected["ivf"])
                + gates.vector_mismatches(lsh, self.expected["lsh"]))


# ---------------------------------------------------------------- probes --
# Layer calls the traced run makes after its timed window.  A lazy call is
# materialized with the no-op sink, so its time covers the work it plans.

def extraction_probes(spark, tracer, ext: ExtractMixed) -> int:
    """Each extraction-side layer on the first shard of ``ext``'s input,
    PROBE_REPS times, and a CLI re-run over the whole committed input.
    Needs ``ext.last_dirs`` from a kept traced CLI pass (the committed
    output and state the resume-side calls read).  Returns the number of
    documents ``extract()`` routed to its declarative branch."""
    from vlm_ocr_doc_reader_spark import cli
    from vlm_ocr_doc_reader_spark.operators.fused import fused_extract_rows
    # the plans package exports extract() under the submodule's name
    extract_mod = importlib.import_module(
        "vlm_ocr_doc_reader_spark.plans.extract")
    from vlm_ocr_doc_reader_spark.state.manifest import (
        pending_docs, read_committed)
    out, state = ext.last_dirs
    fresh = os.path.join(ext.work, "state-fresh")
    routed = []     # what extract() hands its declarative branch
    flat = extract_mod.extract_flat

    def extract_flat(documents, *a, **k):
        routed.append(documents)
        return flat(documents, *a, **k)

    for r in range(PROBE_REPS):
        tracer.begin_pass(f"p{r}", "probe")
        docs = spark.read.parquet(ext.probe_input)
        with tracer.span("state.manifest.pending_docs"):
            noop(pending_docs(docs, spark, fresh, "extract"))
        with tracer.span("state.manifest.resume_pending"):
            noop(pending_docs(docs, spark, state, "extract"))
        with tracer.span("state.manifest.read_committed"):
            noop(read_committed(spark, out, state, "extract"))
        with tracer.span("operators.fused.extract_rows"):
            noop(fused_extract_rows(docs))
        with tracer.span("plans.extract.extract"), \
                mock.patch.object(extract_mod, "extract_flat", extract_flat):
            # extract() itself runs the mega-document route probe and plans;
            # the fused kernel runs when the result is materialized
            with tracer.span("plans.extract.self"):
                df = extract_mod.extract(docs)
            noop(df)
        with tracer.span("cli.resume"):
            cli.main(["extract", "--input", ext.input, "--output", out,
                      "--state", state])
    return sum(df.count() for df in routed) // PROBE_REPS


def levels_probes(spark, tracer, work: str, seed: int) -> dict:
    """classify, levels and vote on the fixed small shard; returns the
    counts they report."""
    from pyspark.sql import functions as F

    from vlm_ocr_doc_reader_spark.operators.vote import majority_vote
    from vlm_ocr_doc_reader_spark.plans import levels
    from vlm_ocr_doc_reader_spark.plans.extract import classified_spans

    from vlm_ocr_doc_reader_spark.fixtures.generate import (
        write_documents_parquet)

    path = os.path.join(work, "levels-docs")
    write_documents_parquet(corpus.levels_documents(LEVELS_DOCS, seed), path,
                            shards=2)
    votes = os.path.join(work, "vote-samples")
    spark.createDataFrame(corpus.vote_samples(VOTE_ENTITIES, seed),
                          "entity_id string, axis_idx int, value string, "
                          "context string, status string") \
        .write.mode("overwrite").parquet(votes)
    reg = {s: os.path.join(work, f"registry-{s}")
           for s in ("scan", "resolve", "verify")}
    tracer.tag = "levels"
    for _ in range(LEVELS_REPS):
        docs = spark.read.parquet(path)
        with tracer.span("operators.classify.classified_spans"):
            noop(classified_spans(docs))
        with tracer.span("plans.levels.kept_text_spans"):
            noop(levels.kept_text_spans(docs))
        with tracer.span("plans.levels.scan"):
            levels.scan(docs).write.mode("overwrite").parquet(reg["scan"])
        with tracer.span("plans.levels.resolve"):
            levels.resolve(docs, spark.read.parquet(reg["scan"])) \
                .write.mode("overwrite").parquet(reg["resolve"])
        with tracer.span("plans.levels.verify"):
            levels.verify(docs, spark.read.parquet(reg["resolve"]),
                          axes=(1, 3, 5)) \
                .write.mode("overwrite").parquet(reg["verify"])
        with tracer.span("operators.vote.majority_vote"):
            noop(majority_vote(spark.read.parquet(votes)))
    row = classified_spans(spark.read.parquet(path)).agg(
        F.count("*").alias("n"),
        F.sum(F.col("keep").cast("long")).alias("kept")).first()
    return {"keep_ratio": row["kept"] / row["n"],
            "registry_rows": spark.read.parquet(reg["verify"]).count()}
