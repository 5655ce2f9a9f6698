"""The benchmark's workloads, set-up and correctness checks.

Both workloads start from the same pre-linked catalog: the base corpus
linked once per checkout (and per program source digest) and copied for
every set-up.  See README.md for what each workload measures and why.
"""

from __future__ import annotations

import http.client
import json
import os
import shutil
import statistics
import time
from collections import Counter
from contextlib import nullcontext
from pathlib import Path

from perfbench import inputs as I
from perfbench.tracedlink import table_files, traced_link, traced_read_path
from perfbench.tracing import Tracer, layer_median

# set-ups per run (setup_s is their median); the measured micro-batches
# the gated incremental metrics are read from, whatever the run length;
# and the fewest request blocks a query run measures (per-request CPU
# varies by a fifth between requests of one route on a shared host)
SETUPS = 3
GATED_BATCHES = 1
MIN_QUERY_BLOCKS = 2

# (metric, layer, attr, scale, unit); write-path layers are read from
# traced micro-batches, read-path layers from traced requests
WRITE_LAYERS = [
    ("spans.s", "spans", "time", 1, "s"),
    ("spans.frames", "spans", "frames", 1, "count"),
    ("vision.s", "vision", "time", 1, "s"),
    ("vision.faces", "vision", "faces", 1, "count"),
    ("linking.s", "linking", "time", 1, "s"),
    ("linking.faces", "linking", "faces", 1, "count"),
    ("linking.linked_ratio", "linking", "linked_ratio", 1, "ratio"),
    ("linking.payload_build_s", "linking.payload_build", "time", 1, "s"),
    ("linking.broadcast_mb", "linking.payload_build", "broadcast_mb", 1, "MB"),
    ("linking.gallery_rows", "linking.payload_build", "gallery_rows", 1, "count"),
    ("scenes.s", "scenes", "time", 1, "s"),
    ("scenes.docs", "scenes", "docs", 1, "count"),
    ("scenes.scenes", "scenes", "scenes", 1, "count"),
    ("triples.s", "triples", "time", 1, "s"),
    ("triples.rows", "triples", "rows", 1, "count"),
    ("canonical.s", "canonical", "time", 1, "s"),
    ("canonical.rows", "canonical", "rows", 1, "count"),
    ("catalog.append_s", "catalog.append", "time", 1, "s"),
    ("catalog.files_written", "catalog.append", "files_written", 1, "count"),
    ("catalog.bytes_written", "catalog.append", "bytes_written", 1, "B"),
    ("catalog.read_s", "catalog.read", "time", 1, "s"),
    ("catalog.snapshots_read", "catalog.read", "snapshots_read", 1, "count"),
    ("catalog.files_read", "catalog.read", "files_read", 1, "count"),
    ("pipeline.anti_join_s", "pipeline.anti_join", "time", 1, "s"),
    ("pipeline.new_doc_ratio", "link.batch", "new_doc_ratio", 1, "ratio"),
    ("pipeline.bookkeeping_s", "pipeline.bookkeeping", "time", 1, "s"),
]
READ_LAYERS = [
    ("hunter.video_exists_ms", "hunter.video_exists", "time", 1000, "ms"),
    ("hunter.scenes_of_ms", "hunter.scenes_of", "time", 1000, "ms"),
    ("hunter.search_ms", "hunter.search", "time", 1000, "ms"),
    ("hunter.sparql_ms", "hunter.sparql", "time", 1000, "ms"),
    ("query.catalog_read_ms", "catalog.read", "time", 1000, "ms"),
    ("query.register_views_ms", "query.register_views", "time", 1000, "ms"),
    ("sparql.parse_ms", "sparql.parse", "time", 1000, "ms"),
    ("sparql.execute_ms", "sparql.execute", "time", 1000, "ms"),
    ("serve.collect_ms", "serve.collect", "time", 1000, "ms"),
    ("serve.overhead_ms", "serve.request", "time", 1000, "ms"),
]
COUNTED_WRITE = ["catalog.read", "pipeline.anti_join", "spans", "vision",
                 "linking", "scenes", "triples", "canonical",
                 "catalog.append", "pipeline.bookkeeping"]
COUNTED_READ = ["hunter.video_exists", "hunter.scenes_of", "hunter.search",
                "hunter.sparql", "serve.collect"]


class Bench:
    """State of one benchmark run: session, base catalog, oracle, timers."""

    def __init__(self, spark, work: Path, seed: int, seconds: float,
                 trace: bool, proc):
        from face_hunter_spark import synth

        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.trace = seconds, trace
        self.proc = proc
        self.op_cpu: list[float] = []
        self.run_dir = work / "runs" / f"{os.getpid()}-{time.time_ns()}"
        self.run_dir.mkdir(parents=True)
        self.gallery_pdf = synth.make_gallery_pdf(n_entities=I.N_ENTITIES)
        self.catalog_pdf = synth.make_entity_catalog_pdf(n_entities=I.N_ENTITIES)
        self.uri_by_label = _preferred_uris(self.catalog_pdf)
        self.tracer = Tracer(spark.sparkContext if trace else None)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.extra: dict = {}
        self.setup_wall: list[float] = []
        self.setup_cpu: list[float] = []
        self._servers: list = []
        self.t_created = time.perf_counter()

    # ---------------------------------------------------------- set-up

    def ensure_base(self, digest: str) -> None:
        """Link the base corpus once per program digest; cache the
        catalog and its oracle triples under the work directory."""
        from face_hunter_spark.hunter import SparkHunter
        from face_hunter_spark.reference_oracle import oracle_triples
        from face_hunter_spark.schemas import DOCUMENTS, ENTITY_CATALOG

        self.base = self.work / "cache" / digest
        if not (self.base / "oracle.json").exists():
            tmp = self.work / "cache" / f"{digest}.tmp-{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            hunter = SparkHunter(
                self.spark, str(tmp / "catalog"), n_entities=I.N_ENTITIES,
                gallery_pdf=self.gallery_pdf,
                entity_catalog=self.spark.createDataFrame(
                    self.catalog_pdf, ENTITY_CATALOG),
            )
            pdf = I.docs_pdf(I.base_ids())
            hunter.link(self.spark.createDataFrame(pdf, DOCUMENTS))
            oracle = oracle_triples(pdf, self.gallery_pdf, self.catalog_pdf,
                                    n_entities=I.N_ENTITIES)
            (tmp / "oracle.json").write_text(json.dumps(sorted(oracle)))
            shutil.rmtree(self.base, ignore_errors=True)
            os.replace(tmp, self.base)
        self.base_oracle = {tuple(t) for t in
                            json.loads((self.base / "oracle.json").read_text())}

    def set_up(self, serve_api: bool):
        """The set-up the workload runs on."""
        return self._timed_setup(self.run_dir / "catalog", serve_api)

    def more_setups(self, serve_api: bool) -> None:
        """The run's other ``SETUPS - 1`` set-ups, timed and discarded.
        They run after the measured operations, on a warm JVM, so that
        ``setup_s``, the median, is a warm set-up's cost and the
        measured operations run right after the warm-up.  Traced runs
        report no set-up cost."""
        for k in range(1, 1 if self.trace else SETUPS):
            hunter, server = self._timed_setup(
                self.run_dir / f"catalog-{k}", serve_api)
            if server is not None:
                self._servers.remove(server)
                server.shutdown()
                server.server_close()
            shutil.rmtree(hunter.catalog.root)

    def _timed_setup(self, dst: Path, serve_api: bool):
        c0, t0 = self.proc.cpu_s(), time.perf_counter()
        kept = self._setup_once(dst, serve_api)
        self.setup_wall.append(time.perf_counter() - t0)
        self.setup_cpu.append(self.proc.cpu_s() - c0)
        return kept

    def _setup_once(self, dst: Path, serve_api: bool):
        """Copy the pre-linked catalog, build the gallery and entity
        catalog inputs and the facade (plus the HTTP API): everything a
        run pays before its first operation."""
        from face_hunter_spark import serve, synth
        from face_hunter_spark.hunter import SparkHunter
        from face_hunter_spark.schemas import ENTITY_CATALOG

        shutil.copytree(self.base / "catalog", dst)
        gallery = synth.make_gallery_pdf(n_entities=I.N_ENTITIES)
        ecat = self.spark.createDataFrame(
            synth.make_entity_catalog_pdf(n_entities=I.N_ENTITIES),
            ENTITY_CATALOG)
        hunter = SparkHunter(self.spark, str(dst), n_entities=I.N_ENTITIES,
                             gallery_pdf=gallery, entity_catalog=ecat)
        server = serve.serve(hunter) if serve_api else None
        if server is not None:
            self._servers.append(server)
        return hunter, server

    def setup_s(self) -> float:
        """Median CPU seconds of the run's set-ups (see README.md)."""
        return statistics.median(self.setup_cpu)

    def close(self) -> None:
        for server in self._servers:
            server.shutdown()
            server.server_close()
        shutil.rmtree(self.run_dir, ignore_errors=True)

    # -------------------------------------------------------- operations

    def docs_df(self, ids):
        from face_hunter_spark.schemas import DOCUMENTS

        return self.spark.createDataFrame(I.docs_pdf(ids), DOCUMENTS)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def link_batch(self, hunter, ids, new, traced_as: str | None = None):
        """One micro-batch; returns its wall seconds.  A batch must
        commit exactly its new docs (committed ones are skipped)."""
        df = self.docs_df(ids)
        c0, t0 = self.proc.cpu_s(), time.perf_counter()
        if traced_as:
            stats = traced_link(self.tracer, hunter, df, traced_as)
        else:
            stats = hunter.link(df)
        wall = time.perf_counter() - t0
        if not traced_as:
            self.op_cpu.append(self.proc.cpu_s() - c0)
        self.attempted += 1
        if stats["n_docs"] != len(new):
            self.fail(f"batch committed {stats['n_docs']} docs, "
                      f"{len(new)} were new")
        return wall

    def request(self, server, route: str, arg: str, trace_id: str | None = None,
                check: bool = True) -> float:
        """One closed-loop API request; returns its latency in seconds.
        A non-200 status or an answer that differs from the oracle's
        counts as failed."""
        method, path, body = I.request_for(route, arg, self.uri_by_label)
        host, port = server.server_address[:2]
        conn = http.client.HTTPConnection(host, port, timeout=170)
        headers = {"Content-Type": "application/json"} if body else {}
        span = (self.tracer.span("serve.request", trace_id=trace_id)
                if trace_id else nullcontext())
        with span as sp:
            if trace_id:
                self.tracer.ambient = (trace_id, sp["id"])
            c0, t0 = self.proc.cpu_s(), time.perf_counter()
            try:
                conn.request(method, path, body=body, headers=headers)
                resp = conn.getresponse()
                raw = resp.read()
            finally:
                lat = time.perf_counter() - t0
                cpu = self.proc.cpu_s() - c0
                conn.close()
                self.tracer.ambient = None
        if not check:
            return lat
        self.op_cpu.append(cpu)
        self.attempted += 1
        try:
            I.check_response(route, arg, resp.status, json.loads(raw),
                             self.answers, self.uri_by_label)
        except (ValueError, KeyError, TypeError) as exc:
            self.fail(str(exc))
        return lat

    # ------------------------------------------------------------ checks

    def check_catalog(self, hunter, new_ids: list[str]) -> None:
        """Committed core-vocabulary triples must equal the oracle's,
        and every linked doc must carry exactly one rdf:type Video."""
        from face_hunter_spark.reference_oracle import (
            oracle_triples, precision_recall)

        expected = set(self.base_oracle)
        if new_ids:
            expected |= oracle_triples(
                I.docs_pdf(new_ids), self.gallery_pdf, self.catalog_pdf,
                n_entities=I.N_ENTITIES)
        rows = hunter.catalog.read(self.spark, "triples") \
            .select("subj", "pred", "obj").collect()
        core = set(_core_preds())
        got = {(r.subj, r.pred, r.obj) for r in rows if r.pred in core}
        p, r = precision_recall(got, expected)
        self.extra.update(triple_precision=p, triple_recall=r,
                          triples_expected=len(expected))
        self.attempted += 1
        if got != expected:
            self.fail(f"committed triples differ from the oracle: "
                      f"precision {p:.4f}, recall {r:.4f}")
        typed = Counter(r.subj for r in rows if r.pred == I.RDF_TYPE
                        and r.obj == I.MPEG7_VIDEO)
        n_docs = len(I.base_ids()) + len(new_ids)
        if len(typed) != n_docs or set(typed.values()) != {1}:
            self.fail(f"{len(typed)} videos typed for {n_docs} docs, or a "
                      "video typed more than once")
        self.extra["triples_files"] = table_files(hunter.catalog,
                                                  "triples")[0]

    def stored_bytes_per_triple(self, hunter) -> float:
        """Parquet bytes under the triples table per committed triple."""
        _, n_bytes = table_files(hunter.catalog, "triples")
        return n_bytes / hunter.catalog.read(self.spark, "triples").count()

    # ------------------------------------------------------------ traces

    def layer_metrics(self, overhead_s: float) -> dict:
        """Per-layer medians over the traced batches or requests; a
        layer the workload does not run reports 0."""
        self.tracer.resolve_counters()
        traces = self.tracer.per_trace()
        batches = {k: v for k, v in traces.items() if "link.batch" in v}
        requests = {k: v for k, v in traces.items() if "serve.request" in v}
        sparql_reqs = {k: v for k, v in requests.items()
                       if k.endswith("-sparql")}
        out = {}
        for name, layer, key, scale, unit in WRITE_LAYERS:
            out[name] = (layer_median(batches, layer, key) * scale, unit)
        out["pipeline.other_s"] = (layer_median(batches, "link.batch"), "s")
        out["canonical.map_s"] = (layer_median(traces, "canonical.map"), "s")
        for name, layer, key, scale, unit in READ_LAYERS:
            out[name] = (layer_median(requests, layer, key) * scale, unit)
        out["sparql.collect_ms"] = (
            layer_median(sparql_reqs, "serve.collect") * 1000, "ms")
        for layers, group in ((COUNTED_WRITE, batches),
                              (COUNTED_READ, requests)):
            for layer in layers:
                for k in ("jobs", "tasks", "failed_tasks"):
                    out[f"{layer}.{k}"] = (layer_median(group, layer, k),
                                           "count")
        out["trace.overhead_ms"] = (overhead_s * 1000, "ms")
        n_failed_tasks = sum(sp["attrs"].get("failed_tasks", 0)
                             for sp in self.tracer.spans)
        if n_failed_tasks:
            self.failed += n_failed_tasks
            self.errors.append(f"{n_failed_tasks} Spark tasks failed")
        return out

    def time_canonical_map(self, hunter) -> None:
        from face_hunter_spark.operators.canonical import canonical_map

        with self.tracer.span("canonical.map", trace_id="setup", spark=True):
            canon = canonical_map(hunter.entity_catalog).cache()
            canon.count()
        canon.unpersist()


def _preferred_uris(catalog_pdf) -> dict[str, str]:
    """label -> the DBpedia-preferred URI depicts triples carry."""
    out = {}
    for name, grp in catalog_pdf.groupby("name"):
        by_kg = dict(zip(grp["source_kg"], grp["entity"]))
        out[name] = by_kg.get("dbpedia", by_kg.get("wikidata"))
    return out


def _core_preds():
    from face_hunter_spark.schemas import NS

    return [NS[k] for k in (
        "rdf_type", "dc_identifier", "dc_title", "video_scene_from",
        "video_temporal_segment_of", "temporal_has_start",
        "temporal_duration", "temporal_has_finish", "foaf_depicts")]


# ------------------------------------------------------------ workloads

def incremental(b: Bench) -> dict:
    """Micro-batches of 25 docs (80% committed, 20% new) against the
    pre-linked catalog, one ``SparkHunter.link`` call each.  The gated
    metrics come from the first ``GATED_BATCHES`` untraced batches, so
    they do not depend on how many batches fit in ``--seconds``."""
    hunter, _ = b.set_up(serve_api=False)
    warm = I.BatchStream(b.seed, "vid_w", I.warmup_base_ids(),
                         size=len(I.warmup_base_ids()) * 5 // 4)
    ids, warm_new = warm.next()
    hunter.link(b.docs_df(ids))

    b.extra["warm_s"] = time.perf_counter() - b.t_created
    stream = I.BatchStream(b.seed, f"vid_s{b.seed}_", I.measured_base_ids())
    plain, traced = [], []
    new_ids = list(warm_new)
    metrics = {}
    b.proc.reset_peak()
    t_end = time.perf_counter() + b.seconds
    while len(plain) < GATED_BATCHES or not (traced or not b.trace) \
            or time.perf_counter() < t_end:
        ids, new = stream.next()
        new_ids += new
        as_traced = b.trace and len(traced) < len(plain)
        wall = b.link_batch(hunter, ids, new,
                            f"batch-{len(plain) + len(traced)}"
                            if as_traced else None)
        (traced if as_traced else plain).append(wall)
        if not b.trace and len(plain) == GATED_BATCHES and not metrics:
            metrics = {
                "cpu_per_op_s": (statistics.fmean(b.op_cpu), "s"),
                "stored_bytes_per_triple": (
                    b.stored_bytes_per_triple(hunter), "B"),
            }

    b.check_catalog(hunter, new_ids)
    b.more_setups(serve_api=False)
    if b.trace:
        b.time_canonical_map(hunter)
        metrics = b.layer_metrics(
            statistics.median(traced) - statistics.median(plain))
    b.extra.update(
        batches=len(plain), traced_batches=len(traced),
        batch_s=[round(x, 4) for x in plain],
        batch_cpu_s=[round(x, 4) for x in b.op_cpu],
        latency_p50_ms=statistics.median(plain) * 1000,
        docs_per_s=stream.n_fresh * len(plain) / sum(plain))
    return metrics


def query(b: Bench) -> dict:
    """Closed loop, one client: blocks of 5 API requests (2 entity,
    1 video, 2 SPARQL) against the pre-linked catalog, at least
    ``MIN_QUERY_BLOCKS`` blocks."""
    b.answers = I.Answers(b.base_oracle)
    hunter, server = b.set_up(serve_api=True)
    warm_entity = I.entity_label(I.N_ENTITIES)  # never depicted
    for route, arg in (("entity", warm_entity),
                       ("video", I.warmup_base_ids()[0]),
                       ("sparql", warm_entity)):
        b.request(server, route, arg, check=False)

    b.extra["warm_s"] = time.perf_counter() - b.t_created
    blocks = I.query_blocks(b.seed)
    lat: dict[str, list[float]] = {"entity": [], "video": [], "sparql": []}
    pairs: list[float] = []
    all_lat: list[float] = []
    t_start = time.perf_counter()
    b.proc.reset_peak()
    n_min = MIN_QUERY_BLOCKS * len(I.BLOCK_ROUTES)
    while len(all_lat) < n_min or time.perf_counter() - t_start < b.seconds:
        for route, arg in next(blocks):
            x = b.request(server, route, arg)
            lat[route].append(x)
            all_lat.append(x)
            if b.trace:
                k = len(pairs)
                with traced_read_path(b.tracer, hunter):
                    y = b.request(server, route, arg,
                                  trace_id=f"req-{k}-{route}", check=False)
                pairs.append(y - x)
    wall = time.perf_counter() - t_start
    b.more_setups(serve_api=True)

    if b.trace:
        b.time_canonical_map(hunter)
        metrics = b.layer_metrics(statistics.median(pairs))
    else:
        metrics = {
            "cpu_per_op_s": (statistics.fmean(b.op_cpu), "s"),
            "stored_bytes_per_triple": (b.stored_bytes_per_triple(hunter),
                                        "B"),
        }
    b.extra.update(
        requests=len(all_lat), wall_s=wall,
        latency_p50_ms=statistics.median(all_lat) * 1000,
        query_qps=len(all_lat) / sum(all_lat),
        **{f"{r}_p50_ms": statistics.median(v) * 1000
           for r, v in lat.items() if v},
    )
    return metrics


WORKLOADS = {"incremental": incremental, "query": query}
