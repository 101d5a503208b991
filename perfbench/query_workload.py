"""``query_mix``: pinned registry queries through bench.py's noop sink.

Passes 0 and 1 are untimed and count in set-up. Pass 0 collects every
result for the correctness check and builds session fixtures such as the
bucketed tables of ``q_join_bucketed``; pass 1 runs the timed passes'
noop plans once, because after pass 0 alone the slow queries are still
getting faster by 10-25% a pass. Then ``seconds // PASS_S`` timed passes
repeat the list, and each query reports the median of its timed runs.
"""

from __future__ import annotations

import hashlib
import json
import math
import time

from gen import query_tables, write_tables
from tracing import median

SF = 0.01  # scale factor of the generated tables (lineitem: 60k rows)

# Five names from bench.py's HEADLINE[3::8] (the list pinned for this
# workload), cut to keep one run inside the benchmark's time budget: the
# Adamic-Adar wedge base, a dedup query, the bucketed-fixture join and
# two sub-second queries. Connected components is left out: its
# superstep count, and so its time, changes with the seed's graph.
QUERIES = (
    "q_graph_adamic_adar",
    "q_dedup_semantic_ivf",
    "q_join_bucketed",
    "q_multimodal_dedup",
    "q_agg_hdr_histogram",
)
FAMILIES = ("graph", "dedup", "other")
PASS_S = 5  # about one timed pass of QUERIES (local[2], sf0.01)


def family_of(spec) -> str:
    return spec.family if spec.family in FAMILIES else "other"


def _cell(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else format(v + 0.0, ".6g")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return format(float(v), ".6g")
    except ImportError:  # pragma: no cover
        pass
    return str(v)


def value_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash: columns by name, floats to 6 significant
    digits, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(sorted(c.lower() for c in columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def spark_hash(df) -> tuple[int, str]:
    rows = [tuple(r) for r in df.collect()]
    return len(rows), value_hash(df.columns, rows)


def oracle_hash(con, sql: str) -> tuple[int, str]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return len(rows), value_hash(cols, rows)


def run_query_mix(ctx) -> dict:
    from mongodb_iceberg_sync_spark.registry import all_specs

    spark, tracer = ctx.spark, ctx.tracer
    sf_dir = f"{ctx.work}/sf{SF}"
    gen_s = []
    for _ in range(3):  # repeated; set-up takes the median
        g0 = time.perf_counter()
        tables = query_tables(ctx.seed, SF)
        write_tables(tables, sf_dir)
        gen_s.append(time.perf_counter() - g0)
    ctx.setup_parts["gen_s"] = median(gen_s)
    specs = all_specs()
    fam_spans = {q: f"operators.{family_of(specs[q])}" for q in QUERIES}
    first: dict[str, tuple[int, str]] = {}

    # pass 0: untimed, part of set-up
    t0 = time.perf_counter()
    for q in QUERIES:
        first[q] = spark_hash(specs[q].func(spark, sf_dir))
    for q in QUERIES:  # pass 1: untimed, the timed passes' noop plans
        specs[q].func(spark, sf_dir).write.mode("overwrite").format("noop").save()
    ctx.setup_parts["warmup_s"] = time.perf_counter() - t0

    runs: dict[str, list[float]] = {q: [] for q in QUERIES}
    passes = max(1, int(ctx.seconds // PASS_S))
    for _ in range(passes):
        for q in QUERIES:
            ctx.host.sample()
            with tracer.span(fam_spans[q], query=q):
                start = time.perf_counter()
                specs[q].func(spark, sf_dir).write.mode("overwrite").format("noop").save()
                runs[q].append(time.perf_counter() - start)

    # correctness, outside the timed loop
    import duckdb

    con = duckdb.connect()
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    mismatches = []
    for q in QUERIES:
        n, h = first[q]
        if specs[q].oracle:
            want = oracle_hash(con, specs[q].oracle)
        else:
            want = spark_hash(specs[q].func(spark, sf_dir))
        if n == 0 or (n, h) != want:
            mismatches.append(q)
    con.close()
    if mismatches:
        ctx.log(f"query_mix: results differ from the oracle: {mismatches}")

    per_query = {q: median(v) for q, v in runs.items()}
    ctx.log(
        "query_mix medians (s): "
        + ", ".join(f"{q}={per_query[q]:.3f}" for q in QUERIES)
        + "; timed runs (s): " + json.dumps({q: [round(x, 2) for x in v] for q, v in runs.items()})
    )
    medians = list(per_query.values())
    e2e = {
        "op_p50_s": median(medians),
        "ops_per_s": len(QUERIES) / sum(medians),
    }
    layers = {}
    if tracer.enabled:
        for fam in FAMILIES:
            spans = tracer.named(f"operators.{fam}")  # one span per timed query run
            n_runs = max(1, len(spans))
            layers[f"operators.{fam}.s"] = sum(s.s for s in spans) / passes
            layers[f"operators.{fam}.jobs_per_query"] = sum(s.all_jobs for s in spans) / n_runs
            layers[f"operators.{fam}.stages_per_query"] = sum(s.stages for s in spans) / n_runs
            layers[f"operators.{fam}.tasks_per_query"] = sum(s.tasks for s in spans) / n_runs
        layers["operators.query_total_s"] = sum(medians)
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": len(QUERIES) * (passes + 1),
        "failed": len(mismatches),
        "correct": not mismatches,
        "bytes_layers": {f"operators.{fam}": passes for fam in FAMILIES},
    }
