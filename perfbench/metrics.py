"""Metric names and units; BENCHMARK.json lists the same names."""

from __future__ import annotations

# Registered queries the ``queries`` workload runs (see README.md for the choice).
QUERY_OPS = ("x_embed_pca_power", "x_dedup_prefix_join", "x_similarity_mrl")
# ext.classify and ext.binaryq are not measured: their callers here,
# x_classify_nb and x_similarity_ivf_binary, do not fit the run budget (README.md).
KERNEL_LAYERS = ("ext.linalg", "ext.similarity", "ext.dedup")

# Operation costs are end to end in CPU seconds of the client, the Spark JVM and
# its Python workers: on a shared host their wall times vary between runs by
# more than any bound allows, so cold_s and warm_s (wall) are reported per layer.
END_TO_END = (
    ("setup_s", "s"),
    ("cold_cpu_s", "s"),
    ("warm_cpu_s", "s"),
)

PER_QUERY = (
    ("build_s", "s"), ("build_jobs", "count"), ("plan_s", "s"), ("exec_s", "s"),
    ("exec_jobs", "count"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
    ("core_busy_frac", "frac"),
)

PIPELINE = (
    ("sync_full_s", "s"), ("sync_delta_s", "s"), ("report_s", "s"), ("arrival_s", "s"),
    ("io.manifest.self_s", "s"), ("io.manifest.hashed_mb", "MB"),
    ("sync.apply_s", "s"), ("sync.jobs", "count"), ("sync.copied_mb", "MB"),
    ("sync.copy_useful_frac", "frac"),
    ("io.readers.self_s", "s"), ("io.readers.jobs", "count"), ("clean.self_s", "s"),
    ("jobs.report_job.build_s", "s"), ("queries.bls.exec_s", "s"), ("queries.bls.jobs", "count"),
    ("stream.batches", "count"), ("stream.jobs_per_arrival", "count"), ("stream.overhead_s", "s"),
)

# peak_rss_mb (driver JVM VmHWM plus the client's max RSS) varies with GC
# timing by more than any bound allows, so it is reported per layer.
COMMON = (
    ("cold_s", "s"), ("warm_s", "s"),
    ("session.get_spark_s", "s"), ("catalog.touch_s", "s"), ("peak_rss_mb", "MB"),
    ("trace.overhead_frac", "frac"), ("error_rate", "frac"),
)


def per_layer() -> list[tuple[str, str]]:
    out = [(f"{q}.{m}", u) for q in QUERY_OPS for m, u in PER_QUERY]
    out += [(f"{m}.{k}", u) for m in KERNEL_LAYERS for k, u in (("self_s", "s"), ("jobs", "count"))]
    return out + list(PIPELINE) + list(COMMON)
