"""Spans around the program's own write and read paths, used only by
traced runs.

``traced_link`` runs one ``SparkHunter.link`` call (so
``pipeline.run_link_job`` itself: its anti-join, append and
bookkeeping) with the operators it calls wrapped for the duration of the
call.  Each wrapper runs the operator inside its own span and
materializes the operator's output there (persist + count), so every
layer's time and Spark jobs can be read separately.  The one change to
the plan is the documented two-stage form of the bruteforce matcher: the
fused ``vision.detect_embed_link`` stage runs as
``vision.detect_embed_faces`` then ``linking.link_bruteforce``
(parity-tested equal), so vision and linking get separate times.

``traced_read_path`` wraps the calls the HTTP handlers make (facade
methods, catalog reads, view registration, SPARQL parse/execute and the
result collect) in spans for the duration of a ``with`` block.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import pyspark.sql.functions as F


def table_files(catalog, table: str) -> tuple[int, int]:
    """(parquet files, bytes) under one catalog table."""
    n = size = 0
    for dirpath, _, files in os.walk(catalog._tdir(table)):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


@contextmanager
def _patched(patches):
    """Replace ``obj.attr`` with ``make(original)`` for each
    (obj, attr, make) while the block runs.  A method patched on an
    instance is removed again afterwards, so the class's shows through."""
    saved = [(obj, attr, attr in vars(obj), getattr(obj, attr))
             for obj, attr, _ in patches]
    for obj, attr, make in patches:
        setattr(obj, attr, make(getattr(obj, attr)))
    try:
        yield
    finally:
        for obj, attr, own, fn in reversed(saved):
            if own:
                setattr(obj, attr, fn)
            else:
                delattr(obj, attr)


def _wrap(tracer, name: str, fn):
    def traced(*args, **kwargs):
        with tracer.span(name, spark=True):
            return fn(*args, **kwargs)
    return traced


def traced_link(tracer, hunter, documents, trace_id: str) -> dict:
    """One ``hunter.link`` micro-batch with a span per layer; returns
    the link stats."""
    from face_hunter_spark import pipeline
    from face_hunter_spark.operators import linking, scenes, spans, vision
    from face_hunter_spark.operators import triples as T

    held = []
    catalog = hunter.catalog
    untraced_payload_build = linking._gallery_arrays

    def materialize(df):
        df = df.persist()
        held.append(df)
        return df, df.count()

    def read(orig):
        def fn(spark, table):
            with tracer.span("catalog.read", spark=True, table=table) as sp:
                sp["attrs"]["snapshots_read"] = len(catalog.snapshots(table))
                sp["attrs"]["files_read"] = table_files(catalog, table)[0]
                return orig(spark, table)
        return fn

    def media_frames(orig):
        # its input is the anti-joined batch: materializing it times
        # the committed-doc scan and the anti-join
        def fn(documents, *args, **kwargs):
            with tracer.span("pipeline.anti_join", spark=True) as sp:
                documents, n_new = materialize(documents)
                batch["attrs"]["new_doc_ratio"] = n_new / max(n_submitted, 1)
                sp["attrs"]["docs"] = n_new
            return orig(documents, *args, **kwargs)
        return fn

    def payload_build(orig):
        def fn(gallery_pdf):
            with tracer.span("linking.payload_build") as sp:
                labels, mat, norms = out = orig(gallery_pdf)
                sp["attrs"]["gallery_rows"] = len(labels)
                sp["attrs"]["broadcast_mb"] = (
                    mat.nbytes + norms.nbytes
                    + sum(len(str(x)) for x in labels)) / 2**20
            return out
        return fn

    def detect_embed_link(orig):
        def fn(media, gallery_arrays, distance_threshold=0.6,
               n_entities=54, encoder="hash", matcher="bruteforce",
               one_face=False):
            if matcher != "bruteforce":
                raise ValueError("traced runs link with bruteforce only")
            with tracer.span("spans", spark=True) as sp:
                media, sp["attrs"]["frames"] = materialize(media)
            with tracer.span("vision", spark=True) as sp:
                faces, _ = materialize(vision.detect_embed_faces(
                    media, n_entities=n_entities, encoder=encoder,
                    one_face=one_face))
                sp["attrs"]["faces"] = faces.where(
                    F.col("face_idx").isNotNull()).count()
            with tracer.span("linking", spark=True) as sp:
                # link_bruteforce builds its own broadcast from the
                # gallery: keep it out of linking.payload_build, which
                # times the fused path's build
                with _patched([(linking, "_gallery_arrays",
                                lambda _: untraced_payload_build)]):
                    two_stage = linking.link_bruteforce(
                        faces, hunter.gallery_pdf, distance_threshold)
                linked, _ = materialize(two_stage)
                row = linked.where(F.col("face_idx").isNotNull()).agg(
                    F.count(F.lit(1)).alias("scored"),
                    F.sum((F.col("label") != linking.UNKNOWN).cast("int"))
                    .alias("labelled"),
                ).collect()[0]
                sp["attrs"]["faces"] = int(row["scored"])
                sp["attrs"]["linked_ratio"] = (
                    int(row["labelled"] or 0) / max(int(row["scored"]), 1))
            return linked.select("doc_id", "frame_no", "ts_ms", "face_idx",
                                 "label")
        return fn

    def extract_scenes(orig):
        def fn(*args, **kwargs):
            with tracer.span("scenes", spark=True) as sp:
                scn, sp["attrs"]["scenes"] = materialize(orig(*args, **kwargs))
                sp["attrs"]["docs"] = scn.select("doc_id").distinct().count()
            return scn
        return fn

    def with_partitioning(orig):
        def fn(*args, **kwargs):
            with tracer.span("triples", spark=True) as sp:
                tri, sp["attrs"]["rows"] = materialize(orig(*args, **kwargs))
            return tri
        return fn

    def canonicalized(orig):
        def fn(*args, **kwargs):
            with tracer.span("canonical", spark=True) as sp:
                out, sp["attrs"]["rows"] = materialize(orig(*args, **kwargs))
            return out
        return fn

    def append(orig):
        # the triples commit is its own layer; the lineage, run-metrics
        # and entity-count appends are the job's bookkeeping
        def fn(table, df, *args, **kwargs):
            name = ("catalog.append" if table == "triples"
                    else "pipeline.bookkeeping")
            with tracer.span(name, spark=True, table=table) as sp:
                files0, bytes0 = table_files(catalog, table)
                snap = orig(table, df, *args, **kwargs)
                files1, bytes1 = table_files(catalog, table)
                sp["attrs"]["files_written"] = files1 - files0
                sp["attrs"]["bytes_written"] = bytes1 - bytes0
            return snap
        return fn

    patches = [
        (catalog, "read", read),
        (catalog, "append", append),
        (spans, "media_frames", media_frames),
        (linking, "_gallery_arrays", payload_build),
        (vision, "detect_embed_link", detect_embed_link),
        (scenes, "extract_scenes_from_faces", extract_scenes),
        (T, "with_partitioning", with_partitioning),
        (pipeline, "canonicalized_triples", canonicalized),
    ]
    n_submitted = documents.count()
    try:
        with tracer.span("link.batch", trace_id=trace_id, spark=True) as batch:
            batch["attrs"]["new_doc_ratio"] = 0.0
            with _patched(patches):
                return hunter.link(documents)
    finally:
        for df in held:
            df.unpersist()


@contextmanager
def traced_read_path(tracer, hunter):
    """Record spans around every read-path call the API handlers make."""
    import face_hunter_spark.operators.sparql as sparql_mod
    import face_hunter_spark.query as query_mod
    import face_hunter_spark.serve as serve_mod

    def wrap_as(name):
        return lambda fn: _wrap(tracer, name, fn)

    patches = [(hunter, m, wrap_as("hunter." + m))
               for m in ("video_exists", "scenes_of", "search", "sparql")]
    patches += [
        (hunter.catalog, "read", wrap_as("catalog.read")),
        (query_mod, "register_views", wrap_as("query.register_views")),
        (sparql_mod, "parse", wrap_as("sparql.parse")),
        (sparql_mod, "execute", wrap_as("sparql.execute")),
        (serve_mod, "_rows", wrap_as("serve.collect")),
    ]
    with _patched(patches):
        yield
