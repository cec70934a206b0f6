"""Per-layer metrics of a traced run (``--trace 1``).

Every metric is measured in every traced run.  A layer on the workload's own
path is measured on the workload's input; a layer the workload bypasses is
measured on a small side input (1,008 documents or 300 vectors), and the
classify / levels / vote layers on a fixed 150-document shard.  The
extraction layer calls outside the CLI (``operators.fused.*``,
``plans.extract.*`` and the ``state.manifest`` reads) run on the probe
shard: the first parquet shard of the extraction input (2,002 documents on
``extract_mixed``, the whole side input on ``vector_topk``), and every
count in those groups is of that shard.  Times are medians of at least two
traced passes or of three probe calls, except the classify / levels / vote
layers: one call each, so that a traced run stays well inside its time
limit.  ``plans.extract.self_s`` is timed
directly: the ``extract()`` call runs the route probe and builds the plan,
and the fused kernel runs only when its result is materialized, so no
difference of two noisy medians is needed.  Counts come from what the
program did (Spark's event log, reduced by job group, and what
``extract()`` routed) or from the oracle's output.
"""

from __future__ import annotations

import os
import statistics

import eventlog
import workloads as wl
from harness import hwm_mb, log

_SIMILARITY = ("datapipe.similarity.ivf_topk",
               "datapipe.similarity.lsh_topk_multiprobe")
SIDE_PASSES = 2


def overhead_frac(tracer_s, traced_times, untraced_times) -> float:
    """The tracer's own time in a traced pass (median) / the median
    untraced pass.  The event log is on for the whole traced session, so a
    traced pass differs from an untraced one only by the tracer's calls;
    timing those calls gives their cost without pass-to-pass noise.  The
    pass-time ratio of the untraced-traced-traced-untraced window is logged
    beside it, signed: it carries that noise, a few percent either way."""
    untraced = statistics.median(untraced_times)
    log("trace overhead by pass time, signed: "
        f"{statistics.median(traced_times) / untraced - 1:+.4f}")
    return statistics.median(tracer_s) / untraced


def layer_metrics(spark, tracer, run, w, args, work, *, session_s,
                  warmup_passes, gcs, timed, traced_times, tracer_s,
                  cpu_probe_s) -> dict:
    """Run the layer calls (session still up).  Returns the metrics that do
    not come from the event log, and which pass kind (``main`` or ``side``)
    ran the vector layers."""
    tracer.tag = "scan"
    for _ in range(wl.PROBE_REPS):
        with tracer.span("sources.scan"):
            wl.noop(spark.read.parquet(w.input))

    ext, vec = w, w
    if w.name == "extract_mixed":
        vec = wl.VectorTopk(os.path.join(work, "side-vectors"), args.seed,
                            n=wl.SIDE_VECTORS)
    else:
        ext = wl.ExtractMixed(os.path.join(work, "side-docs"), args.seed,
                              n_docs=wl.SIDE_DOCS, shards=1)
    side = vec if vec is not w else ext
    for k in range(SIDE_PASSES):
        tracer.begin_pass(f"s{k}", "side")
        run.one_pass(side, spark, "side", tracer,
                     keep=side.name == "extract_mixed")
    routed = wl.extraction_probes(spark, tracer, ext)
    counts = wl.levels_probes(spark, tracer, os.path.join(work, "levels"),
                              args.seed)

    med = tracer.median
    out_dir, state_dir = ext.last_dirs
    values = {
        "sources.session_start_s": session_s,
        "sources.scan_s": med("sources.scan"),
        "sources.input_bytes": w.input_bytes,
        "operators.fused.extract_rows_s": med("operators.fused.extract_rows"),
        "operators.fused.docs": ext.probe_shape["docs"],
        "operators.fused.spans_in": ext.probe_shape["spans_in"],
        "operators.fused.spans_out": ext.probe_shape["spans_out"],
        "plans.extract.extract_s": med("plans.extract.extract"),
        "plans.extract.self_s": med("plans.extract.self"),
        "plans.extract.mega_docs_routed": routed,
        "state.manifest.pending_docs_s": med("state.manifest.pending_docs"),
        "state.manifest.commit_phase_s": med("state.manifest.commit_phase"),
        "state.manifest.read_committed_s":
            med("state.manifest.read_committed"),
        "state.manifest.resume_pending_s":
            med("state.manifest.resume_pending"),
        "state.manifest.manifest_rows": wl.gates.manifest_rows(state_dir),
        "cli.output_write_s": med("cli.output_write"),
        "cli.output_bytes": wl.size_bytes(out_dir),
        "cli.resume_s": med("cli.resume"),
        "datapipe.similarity.ivf_topk_s": med(_SIMILARITY[0]),
        "datapipe.similarity.lsh_topk_multiprobe_s": med(_SIMILARITY[1]),
        "jvm.gc_s_per_pass": statistics.median(gcs),
        "jvm.peak_rss_mb": hwm_mb(run.jvm_pid),
        "harness.warmup_passes": warmup_passes,
        "operators.classify.classified_spans_s":
            med("operators.classify.classified_spans"),
        "operators.classify.keep_ratio": counts["keep_ratio"],
        "plans.levels.kept_text_spans_s": med("plans.levels.kept_text_spans"),
        "plans.levels.scan_s": med("plans.levels.scan"),
        "plans.levels.resolve_s": med("plans.levels.resolve"),
        "plans.levels.verify_s": med("plans.levels.verify"),
        "plans.levels.registry_rows": counts["registry_rows"],
        "operators.vote.majority_vote_s": med("operators.vote.majority_vote"),
        "trace.overhead_frac": overhead_frac(tracer_s, traced_times, timed),
        "host.cpu_probe_s": cpu_probe_s,
    }
    roles = {"vec": "main" if vec is w else "side",
             "vec_input_bytes": vec.input_bytes}
    return values, roles


def event_metrics(event_dir: str, tags: dict, roles: dict) -> dict:
    """Per-pass totals from the event log, medians over traced passes;
    ``tags`` lists the pass tags of each pass kind."""
    groups = eventlog.reduce_by_group(event_dir)

    def per_pass(kind, field, spans=None):
        vals = []
        for tag in tags[kind]:
            vals.append(sum(
                g[field] for name, g in groups.items()
                if name.split("|", 1)[0] == tag
                and (spans is None or name.split("|", 1)[1] in spans)))
        return statistics.median(vals)

    vec = roles["vec"]
    fused = ("operators.fused.extract_rows",)
    py_sent = per_pass(vec, "py_bytes_sent", _SIMILARITY)
    return {
        "operators.fused.py_bytes_sent":
            per_pass("probe", "py_bytes_sent", fused),
        "operators.fused.py_bytes_returned":
            per_pass("probe", "py_bytes_returned", fused),
        "operators.fused.py_worker_s":
            per_pass("probe", "py_worker_ms", fused) / 1000,
        "datapipe.similarity.py_bytes_sent": py_sent,
        "datapipe.similarity.py_worker_s":
            per_pass(vec, "py_worker_ms", _SIMILARITY) / 1000,
        "datapipe.similarity.broadcast_bytes":
            per_pass(vec, "broadcast_bytes", _SIMILARITY),
        "datapipe.similarity.exchange_bytes":
            per_pass(vec, "exchange_bytes", _SIMILARITY),
        "datapipe.similarity.pairs_scored":
            per_pass(vec, "pairs_scored", _SIMILARITY),
        "datapipe.similarity.py_bytes_per_input_byte":
            py_sent / roles["vec_input_bytes"],
        "spark.jobs_per_pass": per_pass("main", "jobs"),
        "spark.stages_per_pass": per_pass("main", "stages"),
        "spark.tasks_per_pass": per_pass("main", "tasks"),
        "spark.exchange_bytes_per_pass": per_pass("main", "exchange_bytes"),
    }
