"""The benchmark's workloads. Each one materializes a graph (batch) and
then answers SPARQL requests (interactive), so every end-to-end metric is
measured on every workload:

* ``kg_pipeline``: ``run_pipeline`` over the sf0.1 web corpus, then a
  ``SparqlEndpoint`` over the KG table it wrote, driven by 4 closed-loop
  HTTP clients in a separate process.
* ``sparql_virtual``: the contract's RDF-collection mapping written as
  N-Triples, then the rewriting-mode mix answered by ``VirtualGraph``
  from one closed-loop in-process client.

The inputs are the sf0.1 rows in ``data/`` (see make_data.py).

Only the generated query strings reach the engine; ``--seed`` picks their
constants and the order of the mix.
"""

from __future__ import annotations

import itertools
import json
import multiprocessing
import os
import random
import shutil
import subprocess
import sys
import time
from concurrent.futures import ProcessPoolExecutor
from contextlib import contextmanager
from statistics import median

import pyarrow.parquet as pq

import oracle as orc
import probes
from client import http_query
from stats import Tally, gap_s, geomean_of_medians, tail, wait_s

CORES = 4
MAX_ROWS = 10_000
KG_PASSES = 4  # distinct passes over the endpoint mix; the clients cycle them
VIRTUAL_PASSES = 2  # likewise for the rewriting-mode mix
HTTP_CLIENTS = 4
HTTP_TIMEOUT_S = 60
HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")  # real sf0.1 rows, see make_data.py

KG = "http://kg.example.org/"
EX = "http://example.org/"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
KG_PREFIXES = (
    "PREFIX kg: <http://kg.example.org/ontology#>\n"
    "PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>\n"
)
EX_PREFIX = "PREFIX ex: <http://example.org/ontology#>\n"

PIPELINE_LAYERS = {  # StageRunner stage name -> span of the layer
    "pages": "pipeline.pages",
    "extracted": "pipeline.extract",
    "aliases": "pipeline.aliases",
    "mentions": "pipeline.mentions",
    "entities": "pipeline.mentions",
    "triples_raw": "pipeline.emit",
    "sameas": "pipeline.sameas",
    "canonical_map": "pipeline.canonicalize",
    "kg_triples": "pipeline.write",
}

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    PER_LAYER = {m["name"]: m["unit"] for m in json.load(_fh)["per_layer"]}


def log(msg: str) -> None:
    """Progress on standard error; standard output carries the result."""
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


class Bench:
    """State of one benchmark invocation: the session, the tracer, the
    failure tally, timed windows, set-up time and peak memory.

    ``engine_import_s`` is the process's time from interpreter start to the
    imported engine package; the benchmark's own imports are not set-up."""

    def __init__(self, args, work: str, engine_import_s: float):
        self.args = args
        self.work = work
        self.tracer = probes.Tracer(bool(args.trace))
        self.tally = Tally()
        self.windows: list[tuple[float, float]] = []
        self.setup_s = engine_import_s
        self.py_peak_kb = 0  # the driver's VmHWM outside the harness phases
        self.layers: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.e2e: dict[str, tuple[float, str]] = {}
        self.spark = None
        self.harvest: probes.StatusHarvest | None = None
        self.in_window = False  # requests served now are timed

    # -- oracle, set-up and timing --------------------------------------

    def oracle(self, plan):
        """``plan(seed)``: the oracle answers and the seeded query mix,
        computed before the session starts, in a child process so that
        its memory is not the driver's. It is not set-up time."""
        with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("fork")) as pool:
            out = pool.submit(plan, self.args.seed).result()
        log("oracle answers ready")
        return out

    @contextmanager
    def setup(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.setup_s += time.perf_counter() - t

    @contextmanager
    def harness(self):
        """The benchmark's own work in the driver process, the answer
        checks. Its memory is kept out of ``peak_rss_mb`` by folding the
        peak so far in before it and resetting the peak after."""
        self.py_peak_kb = max(self.py_peak_kb, probes.vm_hwm_kb(os.getpid()))
        try:
            yield
        finally:
            probes.reset_peak_rss()

    def start_session(self) -> None:
        from morph_xr2rml_spark.plans.session import build_session

        tmp = os.path.join(self.work, "tmp")
        t = time.perf_counter()
        self.spark = build_session(
            "perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=2 * CORES,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "2g",
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # no JVM perf-data file under /tmp: write nothing outside
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.layers["plans.session_s"] = time.perf_counter() - t
        log(f"session started in {self.layers['plans.session_s']:.1f}s")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = probes.jvm_pid(self.spark)
        if self.args.trace:
            self.harvest = probes.StatusHarvest(self.spark)

    def read(self, name: str):
        return self.spark.read.parquet(os.path.join(DATA, f"{name}.parquet"))

    def collect_stats(self, count: bool) -> None:
        if self.harvest is not None:
            t = time.perf_counter()
            self.harvest.harvest(count)
            self.tracer.overhead_s += time.perf_counter() - t

    @contextmanager
    def timed(self, op: str):
        """One timed operation; in a traced run the status store is read
        right after it."""
        self.collect_stats(count=False)
        self.tracer.op_id = op
        t0 = time.time()
        try:
            with self.tracer.span(op):
                yield
        finally:
            self.windows.append((t0, time.time()))
            self.collect_stats(count=True)
            self.tracer.op_id = None

    def live_checkpoints(self) -> None:
        from morph_xr2rml_spark.plans import caching

        self.layers["plans.live_checkpoints"] = max(
            self.layers["plans.live_checkpoints"], len(caching.live_checkpoints())
        )

    # -- results ---------------------------------------------------------

    def result(self) -> dict:
        py_kb = max(self.py_peak_kb, probes.vm_hwm_kb(os.getpid()))
        jvm_kb = probes.vm_hwm_kb(self.jvm_pid)
        rss = (py_kb + jvm_kb) / 1024.0
        log(f"peak RSS: Python driver {py_kb / 1024:.0f} MB, JVM {jvm_kb / 1024:.0f} MB")
        self.e2e["setup_s"] = (self.setup_s, "s")
        self.e2e["peak_rss_mb"] = (rss, "MB")
        if self.args.trace:
            metrics = self._layer_metrics()
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in self.e2e.items()}
        correct = self.tally.failed == 0
        return {"correct": correct, "attempted": self.tally.attempted,
                "failed": self.tally.failed, "metrics": metrics}

    def _layer_metrics(self) -> dict:
        h = self.harvest
        tot = h.totals
        for key in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            self.layers[f"executor.{key}"] = tot[key]
        self.layers["executor.stages_evicted"] = tot["evicted"]
        busy = h.busy_s(self.windows)
        wall = sum(b - a for a, b in self.windows)
        self.layers["executor.busy_s"] = busy
        self.layers["executor.core_util"] = tot["run_s"] / (busy * CORES) if busy else 0.0
        self.layers["driver.gap_s"] = gap_s(wall, busy)
        self.layers["sources.input_rows"] = tot["input_rows"]
        self.layers["trace.overhead_s"] = self.tracer.overhead_s
        self.layers["trace.op_wall_s"] = wall
        self.tracer.write(os.path.join(
            os.path.dirname(self.work), "traces",
            f"{self.args.workload}-seed{self.args.seed}.jsonl"))
        return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in self.layers.items()}

    def close(self) -> None:
        """Stop Spark. Its JVM ends when its standard input, a pipe from
        this process, closes; run.py waits for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        if SparkContext._gateway is not None:
            SparkContext._gateway.proc.stdin.close()


def record_tail(b: Bench, lats: list[float]) -> None:
    """The latency tail the samples support: the highest percentile with at
    least ten samples beyond it, with the sample count."""
    b.layers["latency.samples"] = len(lats)
    pct, value = tail(lats) or (0.0, 0.0)
    b.layers["latency.tail_pct"] = pct
    b.layers["latency.tail_s"] = value


def log_kinds(serve: Tally) -> None:
    log("median latency by kind: " + ", ".join(
        f"{k} {median(v):.2f}s" for k, v in sorted(serve.latencies.items())))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _d, files in os.walk(path) for f in files)


# ---------------------------------------------------------------------------
# kg_pipeline: run_pipeline, then the SPARQL endpoint over its KG table
# ---------------------------------------------------------------------------

def kg_requests(rng: random.Random, doc_ids: list[int], entities: list[str]) -> dict:
    """Request makers of the endpoint mix, by kind; each returns (SPARQL
    query, oracle SQL over the DuckDB ``kg`` table), both built from the
    same drawn constants."""
    mentions = f"'<{KG}ontology#mentions>'"

    def page() -> str:
        return f"<{KG}page/{rng.choice(doc_ids)}>"

    def lookup():
        p = page()
        return (f"SELECT ?p ?o WHERE {{ {p} ?p ?o }}",
                f"SELECT pred AS p, obj AS o FROM kg WHERE subj = '{p}'")

    def label_join():
        p = page()
        return (KG_PREFIXES + f"SELECT ?ent ?label WHERE {{ {p} kg:mentions ?ent . "
                "?ent rdfs:label ?label } ORDER BY ?label ?ent LIMIT 5",
                "SELECT m.obj AS ent, l.obj AS label FROM kg m JOIN kg l "
                f"ON m.obj = l.subj WHERE m.subj = '{p}' AND m.pred = {mentions} "
                "AND l.pred = '<http://www.w3.org/2000/01/rdf-schema#label>' "
                "ORDER BY label, ent LIMIT 5")

    def group_top():
        k = rng.randint(5, 15)
        return (KG_PREFIXES + "SELECT ?ent (COUNT(?page) AS ?n) WHERE { "
                "?page kg:mentions ?ent } GROUP BY ?ent "
                f"ORDER BY DESC(?n) ?ent LIMIT {k}",
                f"SELECT obj AS ent, '\"' || count(*) || '\"^^<{XSD_INT}>' AS n "
                f"FROM kg WHERE pred = {mentions} GROUP BY obj "
                f"ORDER BY count(*) DESC, obj LIMIT {k}")

    def order_top():
        cap = rng.randint(3, 12)
        val = "CAST(regexp_extract(obj, '^\"([0-9]+)\"', 1) AS BIGINT)"
        return (KG_PREFIXES + "SELECT ?page ?n WHERE { ?page kg:mentionCount ?n "
                f"FILTER (?n < {cap}) }} ORDER BY DESC(?n) ?page LIMIT 20",
                f"SELECT subj AS page, obj AS n FROM kg "
                f"WHERE pred = '<{KG}ontology#mentionCount>' AND {val} < {cap} "
                f"ORDER BY {val} DESC, subj LIMIT 20")

    def ask():
        p, e = page(), rng.choice(entities)
        return (KG_PREFIXES + f"ASK {{ {p} kg:mentions {e} }}",
                f"SELECT EXISTS (SELECT 1 FROM kg WHERE subj = '{p}' "
                f"AND pred = {mentions} AND obj = '{e}') AS answer")

    def describe():
        e = rng.choice(entities)
        return (f"DESCRIBE {e}",
                f"SELECT subj, pred, obj FROM kg WHERE subj = '{e}' OR obj = '{e}'")

    def construct():
        p = page()
        return (KG_PREFIXES + f"CONSTRUCT {{ ?e kg:mentionedOn {p} }} "
                f"WHERE {{ {p} kg:mentions ?e }} LIMIT 50",
                f"SELECT obj AS subj, '<{KG}ontology#mentionedOn>' AS pred, "
                f"'{p}' AS obj FROM kg WHERE subj = '{p}' AND pred = {mentions}")

    return {"lookup": lookup, "label_join": label_join, "group_top": group_top,
            "order_top": order_top, "ask": ask, "describe": describe,
            "construct": construct}


def seeded_mix(rng: random.Random, n: int, makers: dict) -> list[tuple]:
    """``n`` requests in passes over every kind, each pass in a seeded
    order: (kind, *maker())."""
    kinds = sorted(makers)
    out = []
    while len(out) < n:
        rng.shuffle(kinds)
        out.extend((k, *makers[k]()) for k in kinds)
    return out[:n]


def http_fingerprint(body: str, ctype: str) -> tuple[int, str]:
    if ctype.startswith("application/n-triples"):
        return orc.fingerprint(orc.ntriples_rows(body), ["subj", "pred", "obj"])
    return orc.sparql_json_fingerprint(body)


def trace_pipeline(b: Bench) -> None:
    """Spans around the public calls run_pipeline makes, installed in the
    pipeline module's namespace (the engine itself is not modified)."""
    from morph_xr2rml_spark.pipeline import run as prun

    base = prun.StageRunner

    class TracedRunner(base):
        def stage(self, name, fn, **kw):
            with b.tracer.span(PIPELINE_LAYERS[name]):
                out = base.stage(self, name, fn, **kw)
            b.collect_stats(count=True)
            return out

    prun.StageRunner = TracedRunner
    prun.parse_mapping = b.tracer.wrap("mapping.parse", prun.parse_mapping)
    compiler_cls = prun.MappingCompiler

    class TracedCompiler(compiler_cls):
        def __init__(self, *a, **kw):
            with b.tracer.span("compiler.plan"):
                super().__init__(*a, **kw)

        def triples(self):
            with b.tracer.span("compiler.plan"):
                return super().triples()

    prun.MappingCompiler = TracedCompiler


def trace_endpoint(b: Bench) -> None:
    """Spans around evaluate() (service time, under the endpoint's request
    lock) and the calls it makes, with a status-store read per request."""
    from morph_xr2rml_spark.sparql import bgp, endpoint

    bgp.parse_sparql = b.tracer.wrap("sparql.parse", bgp.parse_sparql)
    endpoint.parse_sparql = bgp.parse_sparql
    for name, layer in (("sparql_select", "sparql.build"),
                        ("sparql_construct", "sparql.build"),
                        ("sparql_describe", "sparql.build"),
                        ("to_sparql_json", "endpoint.serialize")):
        setattr(endpoint, name, b.tracer.wrap(layer, getattr(endpoint, name)))
    evaluate = endpoint.evaluate

    def traced_evaluate(*a, **kw):
        with b.tracer.span("endpoint.service"):
            out = evaluate(*a, **kw)
        b.collect_stats(count=b.in_window)
        b.live_checkpoints()
        return out

    endpoint.evaluate = traced_evaluate


def plan_kg_pipeline(seed: int):
    """Oracle side of kg_pipeline: the expected KG table, and the seeded
    warm pass and mix with the expected answer of every query."""
    from morph_xr2rml_spark import driver_contract as dc

    rng = random.Random(seed)
    duck = orc.Oracle(DATA, ["documents"])
    # the contract's oracle with two CTEs computed once instead of at each
    # reference (same answer, 7x faster)
    duck.materialize("kg", dc.SQL_KG_TRIPLES_CANONICAL
                     .replace("comp AS (", "comp AS MATERIALIZED (", 1)
                     .replace("vt AS (", "vt AS MATERIALIZED (", 1))
    kg_expected = duck.expect("SELECT subj, pred, obj FROM kg")
    doc_ids = [r[0] for r in duck.rows("SELECT doc_id FROM documents ORDER BY 1")[0]]
    degree = duck.rows(f"SELECT obj, count(*) FROM kg WHERE pred = '<{KG}ontology#mentions>' "
                       f"GROUP BY obj HAVING count(*) < {MAX_ROWS // 2} ORDER BY obj")[0]
    # entities of about the median degree, so a DESCRIBE costs the same
    # whichever entity the seed draws
    mid = median(n for _e, n in degree)
    entities = [e for e, n in degree if abs(n - mid) <= 0.05 * mid]
    makers = kg_requests(rng, doc_ids, entities)
    warm = seeded_mix(rng, len(makers), makers)
    mix = seeded_mix(rng, KG_PASSES * len(makers), makers)
    expected = {q: duck.expect(sql) for _k, q, sql in warm + mix}
    duck.close()
    return kg_expected, warm, mix, expected


def run_kg_pipeline(b: Bench) -> None:
    from morph_xr2rml_spark.pipeline import run_pipeline
    from morph_xr2rml_spark.sparql.endpoint import SparqlEndpoint

    kg_expected, warm, mix, expected = b.oracle(plan_kg_pipeline)
    with b.setup():
        b.start_session()
        docs = b.read("documents")

    if b.args.trace:
        trace_pipeline(b)
        trace_endpoint(b)

    out_dir = os.path.join(b.work, "kg")
    t = time.perf_counter()
    with b.timed("pipeline"):
        res = run_pipeline(b.spark, docs, out_dir, resume=False)
    wall = time.perf_counter() - t
    b.live_checkpoints()
    with b.harness():
        written = pq.read_table(os.path.join(out_dir, "kg_triples"),
                                columns=["subj", "pred", "obj"])
        n_triples = written.num_rows
        got = orc.fingerprint(
            list(zip(*(written[c].to_pylist() for c in written.column_names))),
            written.column_names)
        del written
    b.tally.record("pipeline", wall, res["mismatches"] == 0 and got == kg_expected)
    log(f"pipeline wrote {n_triples} triples in {wall:.1f}s")
    n_bytes = dir_bytes(os.path.join(out_dir, "kg_triples"))
    b.e2e["triples_per_s"] = (n_triples / wall, "1/s")
    b.e2e["bytes_per_triple"] = (n_bytes / n_triples, "bytes")
    b.layers["compiler.triples"] = n_triples
    b.layers["sinks.bytes"] = n_bytes
    b.layers["sinks.write_s"] = b.tracer.total("pipeline.write")
    b.layers["mapping.parse_s"] = b.tracer.total("mapping.parse")
    b.layers["compiler.plan_s"] = b.tracer.total("compiler.plan")
    for span in set(PIPELINE_LAYERS.values()):  # self time: emit holds the compile
        b.layers[f"{span}_s"] = sum(b.tracer.self_durations(span))
    # skew from the per-partition row counts StageRunner records
    for rec in res["metrics"]:
        if rec.get("stage") in ("mentions", "kg_triples") and rec.get("partition_rows"):
            rows = rec["partition_rows"]
            skew = max(rows) / (sum(rows) / len(rows))
            b.layers["pipeline.skew"] = max(b.layers["pipeline.skew"], skew)

    with b.setup():
        ep = SparqlEndpoint(res["triples"], max_rows=MAX_ROWS).start()
    try:
        with b.setup():
            for _kind, q, _sql in warm:
                http_query(ep.port, q, HTTP_TIMEOUT_S)
        log("endpoint warm")
        serve_http(b, ep.port, mix, expected, pass_len=len(warm))
        log(f"served {b.tally.attempted - 1} requests")
    finally:
        ep.stop()
    b.live_checkpoints()


def serve_http(b: Bench, port: int, mix, expected, pass_len: int) -> None:
    """HTTP_CLIENTS closed-loop clients in their own process (client.py),
    drawing requests in the seeded order, in whole passes of ``pass_len``
    requests for --seconds and at least two passes; the replies are
    checked afterwards."""
    spec_path = os.path.join(b.work, "requests.json")
    out_path = os.path.join(b.work, "replies.json")
    with open(spec_path, "w") as fh:
        json.dump({"port": port, "clients": HTTP_CLIENTS, "seconds": b.args.seconds,
                   "min_requests": 2 * pass_len, "pass_len": pass_len,
                   "timeout_s": HTTP_TIMEOUT_S,
                   "requests": [[k, q] for k, q, _sql in mix]}, fh)
    since = b.tracer.mark()
    b.collect_stats(count=False)
    b.in_window = True
    b.tracer.op_id = "serve"
    try:
        subprocess.run([sys.executable, os.path.join(HERE, "client.py"), spec_path, out_path],
                       check=True, timeout=b.args.seconds + 3 * HTTP_TIMEOUT_S)
    finally:
        b.in_window = False
        b.tracer.op_id = None
    serve = Tally()
    with b.harness():
        with open(out_path) as fh:
            out = json.load(fh)
        for kind, q, lat, status, ctype, body in out["replies"]:
            ok = status == 200 and http_fingerprint(body, ctype) == expected[q]
            if not ok:
                log(f"wrong answer ({kind}, HTTP {status}): {q!r} {body[:200]!r}")
            serve.record(kind, lat, ok)
    t0, t1 = out["t0"], out["t1"]
    b.windows.append((t0, t1))
    b.tally.merge(serve)
    log_kinds(serve)
    lats = serve.all_latencies()
    b.e2e["queries_per_s"] = (serve.completed / (t1 - t0), "1/s")
    b.e2e["latency_s_p50"] = (median(lats), "s")
    b.e2e["latency_s_geomean"] = (geomean_of_medians(serve.latencies), "s")
    if b.args.trace:
        record_tail(b, lats)
        service = b.tracer.durations("endpoint.service", since)
        b.layers["endpoint.service_s"] = median(service)
        b.layers["endpoint.serialize_s"] = median(
            b.tracer.durations("endpoint.serialize", since) or [0.0])
        b.layers["endpoint.wait_s"] = wait_s(
            sum(lats) / len(lats), sum(service) / len(service))
        b.layers["sparql.parse_s"] = median(
            b.tracer.durations("sparql.parse", since) or [0.0])
        b.layers["sparql.build_s"] = median(
            b.tracer.self_durations("sparql.build", since))


# ---------------------------------------------------------------------------
# sparql_virtual: N-Triples materialization, then rewriting-mode queries
# ---------------------------------------------------------------------------

VIRTUAL_TABLES = ("nation", "customer", "orders", "lineitem", "events")


def event_docs(events):
    from pyspark.sql import functions as F

    return events.select(F.to_json(F.struct(
        F.col("event_id"),
        F.col("user_id").cast("string").alias("user"),
        F.col("event_type").alias("etype"),
    )).alias("doc"))


def virtual_requests(rng: random.Random, nation_keys: list[int],
                     event_ids: list[int]) -> dict:
    """Request makers of the rewriting-mode mix, by kind; each returns
    (graph, SPARQL query, oracle SQL over the source tables)."""

    def join():
        st = rng.choice("OPF")
        return ("orders", EX_PREFIX + "SELECT ?ord ?cname WHERE { "
                f"?ord ex:status \"{st}\" . ?ord ex:customer ?c . ?c ex:name ?cname . }}",
                f"SELECT DISTINCT '<{EX}order/' || o_orderkey || '>' AS ord, "
                "'\"' || c_name || '\"' AS cname FROM orders JOIN customer "
                f"ON o_custkey = c_custkey WHERE o_orderstatus = '{st}'")

    def const():
        key = rng.choice(nation_keys)
        return ("nation", EX_PREFIX + "SELECT ?name ?rk WHERE { "
                f"<{EX}nation/{key}> ex:name ?name ; ex:regionkey ?rk . }}",
                "SELECT DISTINCT '\"' || n_name || '\"' AS name, '\"' || "
                f"n_regionkey || '\"^^<{XSD_INT}>' AS rk FROM nation "
                f"WHERE n_nationkey = {key}")

    def graph():
        g, p, val = rng.choice([
            ("gNames", "name", "'\"' || n_name || '\"'"),
            ("gKeys", "regionkey", f"'\"' || n_regionkey || '\"^^<{XSD_INT}>'"),
        ])
        return ("graphs", EX_PREFIX + "SELECT ?n ?v WHERE { "
                f"GRAPH ex:{g} {{ ?n ex:{p} ?v }} }}",
                f"SELECT DISTINCT '<{EX}nation/' || n_nationkey || '>' AS n, "
                f"{val} AS v FROM nation")

    def values():
        keys = rng.sample(event_ids, 16)
        iris = " ".join(f"<{EX}event/{k}>" for k in keys)
        return ("events", EX_PREFIX + "SELECT ?e ?t WHERE { "
                f"VALUES ?e {{ {iris} }} ?e ex:etype ?t }}",
                f"SELECT DISTINCT '<{EX}event/' || event_id || '>' AS e, "
                f"'\"' || event_type || '\"' AS t FROM events "
                f"WHERE event_id IN ({', '.join(map(str, keys))})")

    return {"join": join, "const": const, "graph": graph, "values": values}


def run_virtual_request(b: Bench, vg, query: str):
    """One rewriting-mode request, released the way SparqlEndpoint
    releases it; returns the answer rows and columns."""
    from morph_xr2rml_spark.plans import caching
    from morph_xr2rml_spark.sparql import parse_sparql

    mark = caching.job_mark()
    try:
        with b.tracer.span("sparql.parse"):
            q = parse_sparql(query)
        with b.tracer.span("sparql.bind"):
            df = vg.select(q)
        if b.args.trace:
            with b.tracer.span("sparql.plan"):
                df._jdf.queryExecution().executedPlan()
        with b.tracer.span("sparql.exec"):
            rows = [tuple(r) for r in df.limit(MAX_ROWS).collect()]
        return rows, df.columns
    finally:
        caching.release_since(mark)


def plan_sparql_virtual(seed: int):
    """Oracle side of sparql_virtual: the expected N-Triples, and the
    seeded warm pass and mix with the expected answer of every query."""
    from morph_xr2rml_spark import driver_contract as dc

    rng = random.Random(seed)
    duck = orc.Oracle(DATA, list(VIRTUAL_TABLES))
    mat_expected = duck.expect(dc.SQL_XR2RML_RDF_LIST)
    makers = virtual_requests(
        rng,
        [r[0] for r in duck.rows("SELECT n_nationkey FROM nation ORDER BY 1")[0]],
        [r[0] for r in duck.rows("SELECT event_id FROM events ORDER BY 1")[0]])
    warm = seeded_mix(rng, len(makers), makers)
    mix = seeded_mix(rng, VIRTUAL_PASSES * len(makers), makers)
    expected = {q: duck.expect(sql) for *_x, q, sql in warm + mix}
    duck.close()
    return mat_expected, warm, mix, expected


def run_sparql_virtual(b: Bench) -> None:
    from morph_xr2rml_spark import driver_contract as dc
    from morph_xr2rml_spark.compiler import MappingCompiler
    from morph_xr2rml_spark.mapping import parse_mapping
    from morph_xr2rml_spark.sinks import write_ntriples
    from morph_xr2rml_spark.sources import SourceCatalog
    from morph_xr2rml_spark.sparql import VirtualGraph

    mat_expected, warm, mix, expected = b.oracle(plan_sparql_virtual)
    with b.setup():
        b.start_session()
        frames = {t: b.read(t) for t in VIRTUAL_TABLES}

    # batch: compile the rdf:List mapping and write it as N-Triples
    path = os.path.join(b.work, "nt")
    t = time.perf_counter()
    with b.timed("materialize"):
        catalog = (SourceCatalog(b.spark)
                   .register("orders", frames["orders"], unique_key=["o_orderkey"])
                   .register("lineitem", frames["lineitem"]))
        with b.tracer.span("mapping.parse"):
            doc = parse_mapping(dc.LINEITEM_LIST_TTL)
        with b.tracer.span("compiler.plan"):
            triples = MappingCompiler(b.spark, doc, catalog).triples()
        # the write runs the compiled plan, so it times the rdf:List family
        with b.tracer.span("compiler.rdf_list"):
            write_ntriples(triples, path)
    wall = time.perf_counter() - t
    with b.harness():
        rows = []
        for part in sorted(os.listdir(path)):
            if part.startswith("part-"):
                with open(os.path.join(path, part), encoding="utf-8") as fh:
                    rows.extend(orc.ntriples_rows(fh.read()))
        n_triples, n_bytes = len(rows), dir_bytes(path)
        ok = orc.fingerprint(rows, ["subj", "pred", "obj"]) == mat_expected
        del rows
    b.tally.record("materialize", wall, ok)
    shutil.rmtree(path)
    log(f"materialized {n_triples} triples in {wall:.1f}s")
    b.e2e["triples_per_s"] = (n_triples / wall, "1/s")
    b.e2e["bytes_per_triple"] = (n_bytes / n_triples, "bytes")
    b.layers["compiler.triples"] = n_triples
    b.layers["sinks.bytes"] = n_bytes
    b.layers["compiler.rdf_list_s"] = b.layers["sinks.write_s"] = (
        b.tracer.total("compiler.rdf_list"))
    b.layers["mapping.parse_s"] = b.tracer.total("mapping.parse")
    b.layers["compiler.plan_s"] = b.tracer.total("compiler.plan")

    # interactive: the rewriting-mode graphs are built once, then warmed
    with b.setup():
        graphs = {
            "orders": VirtualGraph(b.spark, parse_mapping(dc.ORDERS_TTL),
                                   SourceCatalog(b.spark)
                                   .register("customer", frames["customer"],
                                             unique_key=["c_custkey"])
                                   .register("orders", frames["orders"],
                                             unique_key=["o_orderkey"])),
            "nation": VirtualGraph(b.spark, parse_mapping(dc.NATION_TTL),
                                   SourceCatalog(b.spark).register(
                                       "nation", frames["nation"],
                                       unique_key=["n_nationkey"])),
            "graphs": VirtualGraph(b.spark, parse_mapping(dc.NATION_GRAPHS_TTL),
                                   SourceCatalog(b.spark).register(
                                       "nation", frames["nation"],
                                       unique_key=["n_nationkey"])),
            "events": VirtualGraph(b.spark, parse_mapping(dc.EVENTS_DOCS_TTL),
                                   SourceCatalog(b.spark).register(
                                       "events_docs", event_docs(frames["events"]),
                                       doc_column="doc")),
        }
        for _kind, g, q, _sql in warm:
            run_virtual_request(b, graphs[g], q)
    log("virtual graphs warm")
    since = b.tracer.mark()  # layer medians cover the timed mix only
    b.collect_stats(count=False)
    rows_before = b.harvest.totals["input_rows"] if b.harvest else 0.0

    serve = Tally()
    results = 0
    t0 = time.time()
    start = time.perf_counter()
    for i, (kind, g, q, _sql) in enumerate(itertools.cycle(mix)):
        # whole passes over the kinds, at least one, until --seconds have
        # passed, so every kind has the same number of latency samples
        if i and i % len(warm) == 0 and time.perf_counter() - start >= b.args.seconds:
            break
        t = time.perf_counter()
        with b.timed(kind):
            try:
                rows, cols = run_virtual_request(b, graphs[g], q)
            except Exception as e:  # noqa: BLE001 — a failed request is counted
                log(f"request failed ({kind}): {e!r}")
                rows, cols = None, None
        lat = time.perf_counter() - t
        ok = rows is not None and orc.fingerprint(rows, cols) == expected[q]
        if not ok:
            log(f"wrong answer ({kind}): {q!r}")
        serve.record(kind, lat, ok)
        results += len(rows or ())
    t1 = time.time()
    log(f"answered {serve.attempted} requests")
    b.tally.merge(serve)
    log_kinds(serve)
    lats = serve.all_latencies()
    b.e2e["queries_per_s"] = (serve.completed / (t1 - t0), "1/s")
    b.e2e["latency_s_p50"] = (median(lats), "s")
    b.e2e["latency_s_geomean"] = (geomean_of_medians(serve.latencies), "s")
    b.live_checkpoints()
    if b.args.trace:
        record_tail(b, lats)
        for kind, vals in serve.latencies.items():
            b.layers[f"sparql.virtual_{kind}_s"] = median(vals)
        for layer in ("parse", "bind", "plan", "exec"):
            b.layers[f"sparql.{layer}_s"] = median(
                b.tracer.durations(f"sparql.{layer}", since) or [0.0])
        scanned = b.harvest.totals["input_rows"] - rows_before
        b.layers["sources.rows_per_result"] = scanned / results if results else 0.0


WORKLOADS = {"kg_pipeline": run_kg_pipeline, "sparql_virtual": run_sparql_virtual}
