"""Seeded inputs and oracle-derived expected answers.

Documents come from ``data/corpus.parquet``: 1,000 documents of the sf0.1
``documents.parquet`` corpus as ``__spark_entry__._interleaved_documents``
shapes them (see ``make_corpus.py``).  A linked document takes the text
span and frame count of one corpus row, and carries a benchmark id; its
media spans are ``frame://<doc_id>/<k>``.  Fake vision is keyed by
``doc_id``, so a doc id fully determines a document's frames and faces;
the seed salts the ids of every document a run links, which changes the
frame content.

Three disjoint id spaces:

* ``vid_b<i>`` -- the base corpus (corpus rows 0..49), linked once per
  checkout into the cached catalog that both workloads start from.  The
  first ``WARMUP_BASE`` of them are only ever used by warm-up.
* ``vid_w<i>`` -- new documents of warm-up batches.
* ``vid_s<seed>_<i>`` -- new documents of measured batches.

New documents take the corpus row their id hashes to, among rows 50..999.
"""

from __future__ import annotations

import hashlib
import json
import random
from pathlib import Path
from urllib.parse import quote

import pandas as pd

N_ENTITIES = 54
BASE_DOCS = 50
WARMUP_BASE = 10
BATCH_DOCS = 25
SPARQL_LIMIT = 50
# one query block: 2 entity, 1 video and 2 SPARQL requests (40/20/40)
BLOCK_ROUTES = ("entity", "entity", "video", "sparql", "sparql")

FOAF_DEPICTS = "http://xmlns.com/foaf/0.1/depicts"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
MPEG7_VIDEO = "http://purl.org/ontology/mpeg7/Video"

CORPUS = Path(__file__).resolve().parent / "data" / "corpus.parquet"
_corpus: pd.DataFrame | None = None


def _h(s: str) -> int:
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "little")


def corpus() -> pd.DataFrame:
    global _corpus
    if _corpus is None:
        _corpus = pd.read_parquet(CORPUS)
    return _corpus


def corpus_row(doc_id: str) -> int:
    if doc_id.startswith("vid_b"):
        return int(doc_id[len("vid_b"):])
    n_new_rows = len(corpus()) - BASE_DOCS
    return BASE_DOCS + _h("perfbench/doc/" + doc_id) % n_new_rows


def make_doc(doc_id: str) -> dict:
    row = corpus().iloc[corpus_row(doc_id)]
    spans = [{"kind": "text", "text": row["text"], "media_ref": None,
              "offset": 0}]
    spans += [
        {"kind": "media", "text": None,
         "media_ref": f"frame://{doc_id}/{k}", "offset": k + 1}
        for k in range(int(row["n_frames"]))
    ]
    return {"doc_id": doc_id, "spans": spans}


def docs_pdf(doc_ids) -> pd.DataFrame:
    return pd.DataFrame([make_doc(d) for d in doc_ids])


def base_ids() -> list[str]:
    return [f"vid_b{i:05d}" for i in range(BASE_DOCS)]


def warmup_base_ids() -> list[str]:
    return base_ids()[:WARMUP_BASE]


def measured_base_ids() -> list[str]:
    return base_ids()[WARMUP_BASE:]


class BatchStream:
    """Micro-batches of ``size`` doc ids: 80% drawn from committed base
    docs, 20% new ids from ``new_prefix``.  Deterministic in (seed,
    prefix); every new id is fresh."""

    def __init__(self, seed: int, new_prefix: str, committed: list[str],
                 size: int = BATCH_DOCS):
        self.rng = random.Random(_h(f"batches/{seed}/{new_prefix}"))
        self.prefix = new_prefix
        self.committed = committed
        self.n_old = size - size // 5
        self.n_fresh = size // 5
        self.n_new = 0

    def next(self) -> tuple[list[str], list[str]]:
        old = self.rng.sample(self.committed, self.n_old)
        new = [f"{self.prefix}{self.n_new + i:05d}"
               for i in range(self.n_fresh)]
        self.n_new += self.n_fresh
        ids = old + new
        self.rng.shuffle(ids)
        return ids, new


def entity_label(k: int) -> str:
    return f"Entity {k:03d}"


def query_blocks(seed: int, salt: str = "measure"):
    """Endless closed-loop request mix, one block of 5 at a time: the
    route counts per block are fixed (40/20/40), the order, the entity
    (Zipf(1) over the 54 depicted entities) and the video (uniform over
    the measured base docs) are drawn from the seed."""
    rng = random.Random(_h(f"queries/{seed}/{salt}"))
    weights = [1.0 / (k + 1) for k in range(N_ENTITIES)]
    videos = measured_base_ids()
    while True:
        routes = list(BLOCK_ROUTES)
        rng.shuffle(routes)
        block = []
        for route in routes:
            if route == "video":
                block.append((route, rng.choice(videos)))
            else:
                k = rng.choices(range(N_ENTITIES), weights)[0]
                block.append((route, entity_label(k)))
        yield block


def sparql_text(entity_uri: str) -> str:
    return (
        f"PREFIX foaf: <{FOAF_DEPICTS.rsplit('/', 1)[0]}/> "
        f"SELECT ?s WHERE {{ ?s foaf:depicts <{entity_uri}> }} "
        f"LIMIT {SPARQL_LIMIT}"
    )


def request_for(route: str, arg: str, uri_by_label: dict) -> tuple[str, str, bytes | None]:
    """(method, path, body) of one API request."""
    if route == "entity":
        return "GET", "/api/entity/" + quote(arg), None
    if route == "video":
        return "GET", "/api/youtube/" + quote(arg), None
    body = json.dumps({"sparql": sparql_text(uri_by_label[arg])}).encode()
    return "POST", "/api/query", body


class Answers:
    """Expected API answers derived from a set of oracle triples."""

    def __init__(self, triples):
        from face_hunter_spark.schemas import HOME_URI, NS

        self.home = HOME_URI
        self.scene_video: dict[str, str] = {}
        self.start: dict[str, str] = {}
        self.finish: dict[str, str] = {}
        self.title: dict[str, str] = {}
        self.link: dict[str, str] = {}
        self.depicts: dict[str, set] = {}
        self.scenes_of_entity: dict[str, set] = {}
        for s, p, o in triples:
            if p == NS["video_scene_from"]:
                self.scene_video[s] = o
            elif p == NS["temporal_has_start"]:
                self.start[s] = o
            elif p == NS["temporal_has_finish"]:
                self.finish[s] = o
            elif p == NS["dc_title"]:
                self.title[s] = o
            elif p == NS["dc_identifier"]:
                self.link[s] = o
            elif p == FOAF_DEPICTS:
                self.depicts.setdefault(s, set()).add(o)
                self.scenes_of_entity.setdefault(o, set()).add(s)

    def entity(self, uri: str) -> set:
        out = set()
        for s in self.scenes_of_entity.get(uri, ()):
            v = self.scene_video[s]
            for e in self.depicts[s]:
                out.add((self.title[v], self.link[v], e,
                         self.start[s], self.finish[s]))
        return out

    def video(self, doc_id: str) -> set:
        v = self.home + doc_id
        return {
            (s, e, self.start[s], self.finish[s])
            for s, sv in self.scene_video.items() if sv == v
            for e in self.depicts.get(s, ())
        }

    def sparql(self, uri: str) -> set:
        return set(self.scenes_of_entity.get(uri, ()))


def check_response(route: str, arg: str, status: int, payload: dict,
                   answers: Answers, uri_by_label: dict) -> None:
    """Raise ValueError on a wrong status or a wrong answer."""
    if status != 200 or not payload.get("success"):
        raise ValueError(f"{route} {arg}: HTTP {status} {payload.get('error')}")
    if route == "entity":
        got = [(r["title"], r["link"], r["co_entity"], r["start"], r["finish"])
               for r in payload["scenes"]]
        want = answers.entity(uri_by_label[arg])
    elif route == "video":
        got = [(r["scene"], r["entity"], r["start"], r["finish"])
               for r in payload["scenes"]]
        want = answers.video(arg)
    else:
        got = [r["s"] for r in payload["rows"]]
        want = answers.sparql(uri_by_label[arg])
    good = sum(1 for g in set(got) if g in want)
    n_expected = min(len(want), SPARQL_LIMIT) if route == "sparql" else len(want)
    if len(got) != len(set(got)) or good != len(got) or len(got) != n_expected:
        raise ValueError(
            f"{route} {arg}: {len(got)} rows, {good} correct, "
            f"{n_expected} expected"
        )
