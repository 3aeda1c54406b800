"""Output checks: table equality in DuckDB and the reference query mix.

Each query class is one public call on ``api.KGraphView`` (the SPARQL
classes go through its ``sparql_*`` methods, which compile with
``sparql.SparqlEngine``); ``build`` returns the lazy DataFrame (parse,
compile and eager probes) and the caller collects it.  ``verify`` compares
the collected rows with the answer ``inputs.query_pool`` computed.
"""

from __future__ import annotations

from kgraphmemory_spark import semantics as S
from perfbench.inputs import HYBRID_K, KNN_K, SCORE_TOL, record_id


def compare(con, got_sql: str, want_sql: str, label: str) -> list[str]:
    """Multiset equality of two queries; reports the rows missing from the
    program's output (recall) and the extra rows it produced (precision)."""
    (missing,), = con.execute(
        f"SELECT count(*) FROM ({want_sql} EXCEPT ALL {got_sql})").fetchall()
    (extra,), = con.execute(
        f"SELECT count(*) FROM ({got_sql} EXCEPT ALL {want_sql})").fetchall()
    if missing or extra:
        return [f"{label}: {missing} expected rows missing, {extra} "
                f"unexpected rows"]
    return []


_PATH = (f"^<{S.EDGE_SOURCE}>/<{S.EDGE_DESTINATION}>/"
         f"^<{S.EDGE_SOURCE}>/<{S.EDGE_DESTINATION}>")


def build(view, q: dict):
    cls, uri = q["cls"], q.get("uri")
    if cls == "api.point":
        return view.get_object(uri)
    if cls == "api.linked":
        return view.linked_objects(uri).select(
            "entity_id", "pred", "weight", "name", "entity_type",
            "mention_count")
    if cls == "sparql.select":
        return view.sparql_query(f"SELECT ?p ?o WHERE {{ <{uri}> ?p ?o }}")
    if cls == "sparql.path":
        return view.sparql_query(
            f"SELECT DISTINCT ?y WHERE {{ <{uri}> {_PATH} ?y }}")
    if cls == "sparql.construct":
        return view.sparql_construct(
            f"CONSTRUCT {{ <{uri}> <urn:bench:next> ?o }} WHERE {{ "
            f"?f <{S.EDGE_SOURCE}> <{uri}> . ?f <{S.EDGE_DESTINATION}> ?o }}")
    if cls == "vectors.knn":
        return view.vector_search(q["text"], limit=KNN_K)
    if cls == "vectors.hybrid":
        return view.hybrid_search(q["text"], view.linked_objects(uri),
                                  limit=HYBRID_K)
    raise ValueError(f"unknown query class {cls}")


def verify(q: dict, rows) -> str | None:
    """None when ``rows`` is a correct answer to ``q``, else the reason."""
    if q["cls"] in ("vectors.knn", "vectors.hybrid"):
        return _verify_topk(q["answer"], rows)
    got = sorted([list(r) for r in rows])
    if got != q["answer"]:
        return (f"{len(got)} rows, expected {len(q['answer'])}; first "
                f"difference {_first_diff(got, q['answer'])}")
    return None


def _first_diff(got, want):
    for a, b in zip(got, want):
        if a != b:
            return f"{a} != {b}"
    return "in length"


def _verify_topk(answer: dict, rows) -> str | None:
    """A top-k answer is correct when it has min(k, n) distinct records,
    each a legal member of the top k (its exact score within tolerance of
    the k-th best) with the score the reference embedder gives it."""
    if len(rows) != answer["n"]:
        return f"{len(rows)} rows, expected {answer['n']}"
    seen = set()
    for r in rows:
        key = f"{r['uri']}|{r['vector_id']}"
        want = answer["scores"].get(key)
        if want is None:
            return f"{key} is not in the top {answer['n']}"
        if abs(r["score"] - want) > SCORE_TOL:
            return f"{key} score {r['score']} != {want}"
        if r["record_id"] != record_id(r["uri"], r["vector_id"]):
            return f"{key} record_id {r['record_id']}"
        seen.add(key)
    if len(seen) != len(rows):
        return "duplicate records"
    return None
