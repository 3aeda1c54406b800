"""Seeded inputs and their expected answers, cached on disk per seed.

Pages are generated by vectorised SQL expressions in an in-process DuckDB
(``range`` → ``hash`` → a Zipf lookup), never per row in Python, and never
in the Spark session being measured: the crawl must start in a cold JVM,
and generating inputs there would warm it up (codegen, class loading) and
raise its peak resident memory.  The program receives nothing but the
written parquet.  The expected answers are computed once per seed, next to
the inputs, by DuckDB and numpy from the generator's own text — never from
the program's output:

- ``expect_text``: per url, the exact text the HTML wrapper encloses;
- ``relations``, ``entities``, ``frames``, ``slots``, ``triples``,
  ``provenance``: the ``semantics.py`` rule-set (adjacency relations,
  bigram phrase aliases, same-as canonicalization, deterministic frame and
  slot ids) evaluated in SQL;
- ``queries.json``: the query pool of the reference mix with each
  instance's answer.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import os
import random
import shutil
import uuid

import duckdb
import numpy as np

from kgraphmemory_spark import semantics as S

# Hub vocabulary (the Zipf head): datagen.py's ``_VOCAB`` and its exponent
# 1.3, copied so that a change to the program's generator does not change
# the benchmark's inputs.  Appended at the tail of the head: the three
# tokens a same-as pair or bigram phrase alias of the rule-set needs and
# ``_VOCAB`` lacks ("order"-"sequence", "quick"-"fast", "group by").
HEAD = [
    "the", "a", "data", "spark", "join", "hash", "row", "batch", "scan",
    "column", "customer", "filter", "small", "slow", "merge", "order",
    "vector", "line", "table", "agg", "value", "key", "stream", "window",
    "group", "part", "big", "sort", "query", "fast", "dup",
    "by", "sequence", "quick",
]
ZIPF_S = 1.3
_LOOKUP_SIZE = 1024
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z

# Boilerplate the extractor must strip (script, style, comment, empty
# title): about 700 bytes of markup around every page's text, the shape
# of a real page where the text is a minority of the HTML.
_PREFIX = (
    "<html><head><title></title>"
    "<style>body { color: #000; margin: 0 auto; } .nav { display: flex; }"
    " .ad { display: none; } table td { padding: 2px 4px; }</style>"
    "<script>var cfg = {\"ads\": true, \"track\": '<p>not text</p>'};"
    " function init() { for (var i = 0; i < 10; i++) { cfg[i] = i * 2; } }"
    " window.onload = init;</script></head>"
    "<!-- generated page: navigation, ads and tracking are not text -->"
    "<body><div class=\"nav\"><!-- menu --></div><p>"
)
_SUFFIX = (
    "</p><script>document.write('<div>footer</div>');</script>"
    "<!-- footer --></body></html>"
)

_PER_CLASS = 12
KNN_K = 10
HYBRID_K = 5
# allowed gap between an engine score (float32 vectors, rounded to 6
# decimals) and the numpy reference; records within 10x of it of the k-th
# best score are all legal top-k members, so ties at the cut-off pass
SCORE_TOL = 1e-5


def _zipf_lookup() -> list[int]:
    """Quantised inverse CDF: uniform slot → Zipf-distributed head index."""
    w = [1.0 / (i + 1) ** ZIPF_S for i in range(len(HEAD))]
    total = sum(w)
    cum, acc = [], 0.0
    for x in w:
        acc += x / total
        cum.append(acc)
    return [min(bisect.bisect_left(cum, (j + 0.5) / _LOOKUP_SIZE),
                len(HEAD) - 1) for j in range(_LOOKUP_SIZE)]


def write_pages(con, pages_dir: str, n_pages: int, seed: int,
                tail_share: float, files: int) -> None:
    """Writes (url, warc_ts, html, text, lang, expect_text) as ``files``
    parquet files.

    Every page has 16–127 tokens.  ``tail_share`` of the tokens come from
    a long tail of ``40 × n_pages`` surfaces (so most occur once or twice),
    the rest from the Zipf head.  ``tail_share = 0`` gives a bounded
    vocabulary."""
    con.execute("CREATE TABLE head_lookup (slot BIGINT, tok VARCHAR)")
    con.executemany("INSERT INTO head_lookup VALUES (?, ?)",
                    [(j, HEAD[i]) for j, i in enumerate(_zipf_lookup())])
    con.execute("CREATE TABLE langs (slot BIGINT, lang VARCHAR)")
    con.executemany("INSERT INTO langs VALUES (?, ?)",
                    list(enumerate(_LANGS)))
    tail_pool = max(40 * n_pages, 1)
    con.execute(f"""
        CREATE TABLE draws AS
        SELECT id, k, hash({seed}, id, k) % {1 << 40} AS u,
               hash({seed + 1}, id, k) % 1000 < {int(tail_share * 1000)}
                   AS is_tail
        FROM (SELECT id, unnest(range((16 + hash({seed}, id, -1) % 112)::BIGINT))
                          AS k
              FROM (SELECT range AS id FROM range({n_pages})));
        CREATE TABLE pages AS
        SELECT id,
               string_agg(CASE WHEN is_tail
                               THEN 'w' || lower(hex(u // {_LOOKUP_SIZE}
                                                     % {tail_pool}))
                               ELSE h.tok END, ' ' ORDER BY k) AS text
        FROM draws JOIN head_lookup h ON h.slot = u % {_LOOKUP_SIZE}
        GROUP BY id;
    """)
    os.makedirs(pages_dir)
    for i in range(files):
        con.execute(f"""
            COPY (
                SELECT printf('https://bench.example/%d/p/%08d', {seed}, id)
                           AS url,
                       to_timestamp({_EPOCH_S} + id) AS warc_ts,
                       encode(? || text || ?) AS html,
                       NULL::VARCHAR AS text,
                       l.lang,
                       text AS expect_text
                FROM pages
                JOIN langs l ON l.slot = hash({seed}, id, -2) % {len(_LANGS)}
                WHERE id % {files} = {i} ORDER BY id
            ) TO '{pages_dir}/part-{i:03d}.parquet' (FORMAT PARQUET)
        """, [_PREFIX, _SUFFIX])


def prepare(root: str, workload: str, n_pages: int, seed: int,
            tail_share: float, files: int) -> str:
    """Generate (or reuse) the inputs of one (workload, seed); returns the
    cache directory holding ``pages/`` (whose ``expect_text`` column is
    dropped before the program reads it), ``expect/`` and
    ``queries.json``.  A finished directory is renamed into place, so an
    interrupted generation never leaves a half-written cache entry."""
    final = os.path.join(root, f"{workload}-{n_pages}-{seed}")
    if os.path.exists(os.path.join(final, "queries.json")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with duckdb.connect() as con:
        write_pages(con, os.path.join(tmp, "pages"), n_pages, seed,
                    tail_share, files)
        expected_graph(con, os.path.join(tmp, "pages"),
                       os.path.join(tmp, "expect"))
        pool = query_pool(con, os.path.join(tmp, "expect"), seed)
    with open(os.path.join(tmp, "queries.json"), "w") as f:
        json.dump(pool, f)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


# -- the rule-set in SQL --------------------------------------------------

def _canonical_pairs(present: set[str]) -> list[tuple[str, str]]:
    """Same-as closure over the synonym pairs whose endpoints both occur:
    entity id → lexicographic minimum of its component (non-identity
    entries only)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in S.SYNONYMS:
        ea, eb = "ent:" + a, "ent:" + b
        if ea in present and eb in present:
            ra, rb = find(ea), find(eb)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return [(e, find(e)) for e in parent if find(e) != e]


def expected_graph(con, pages_dir: str, out_dir: str) -> None:
    """Writes the expected ``relations``, ``entities``, ``frames``,
    ``slots``, ``triples`` (entity and frame reification, graph column
    aside) and ``provenance`` parquet."""
    os.makedirs(out_dir)
    con.execute(f"""
        CREATE TABLE docs AS
        SELECT url, expect_text AS text
        FROM read_parquet('{pages_dir}/*.parquet');
        CREATE TABLE toks AS
        SELECT url, string_split(text, ' ') AS t FROM docs
        WHERE length(text) > 0;
        CREATE TABLE pairs AS
        SELECT url, t[i] AS a, t[i + 1] AS b
        FROM (SELECT url, t, unnest(range(1, len(t))) AS i FROM toks);
        CREATE TABLE uni AS SELECT url, unnest(t) AS surface FROM toks;
    """)
    syn = sorted({"ent:" + x for pair in S.SYNONYMS for x in pair})
    present = {r[0] for r in con.execute(
        "SELECT DISTINCT 'ent:' || surface FROM uni "
        "WHERE 'ent:' || surface IN (SELECT unnest(?))", [syn]).fetchall()}
    con.execute("CREATE TABLE canon (entity_id VARCHAR, canonical_id VARCHAR)")
    if present:
        con.executemany("INSERT INTO canon VALUES (?, ?)",
                        _canonical_pairs(present))
    con.execute("CREATE TABLE aliases (surface VARCHAR, entity_id VARCHAR)")
    con.executemany("INSERT INTO aliases VALUES (?, ?)",
                    sorted(S.BIGRAM_ALIASES.items()))
    con.execute(f"""
        CREATE TABLE relations AS
        SELECT coalesce(cs.canonical_id, 'ent:' || a) AS subj,
               '{S.REL_NEXT}' AS pred,
               coalesce(co.canonical_id, 'ent:' || b) AS obj,
               count(*) AS weight, count(DISTINCT url) AS ndocs
        FROM pairs
        LEFT JOIN canon cs ON cs.entity_id = 'ent:' || a
        LEFT JOIN canon co ON co.entity_id = 'ent:' || b
        GROUP BY ALL;
        CREATE TABLE entities AS
        WITH m AS (
            SELECT 'ent:' || surface AS eid, surface, 0 AS big FROM uni
            UNION ALL
            SELECT al.entity_id, al.surface, 1
            FROM pairs JOIN aliases al ON al.surface = a || ' ' || b)
        SELECT coalesce(c.canonical_id, eid) AS entity_id,
               min(surface) AS name,
               CASE WHEN max(big) = 1 THEN '{S.TYPE_PHRASE}'
                    ELSE '{S.TYPE_TOKEN}' END AS entity_type,
               count(*) AS mention_count
        FROM m LEFT JOIN canon c ON c.entity_id = eid
        GROUP BY ALL;
        CREATE TABLE frames AS
        SELECT 'frame:' || left(sha256(subj || '|' || pred || '|' || obj), 24)
                   AS frame_uri,
               '{S.FRAME_TYPE_NEXT}' AS frame_type, subj, obj
        FROM relations;
        CREATE TABLE slots AS
        SELECT 'slot:' || left(sha256(frame_uri || '|' || s.slot_type), 24)
                   AS slot_uri,
               frame_uri, s.slot_type,
               CASE WHEN s.slot_type = '{S.SLOT_SOURCE}' THEN subj ELSE obj END
                   AS entity_value
        FROM frames, (VALUES ('{S.SLOT_SOURCE}'), ('{S.SLOT_DESTINATION}'))
                     s(slot_type);
        CREATE TABLE triples AS
        SELECT entity_id AS subject, p.predicate,
               CASE WHEN p.k = 3 THEN name ELSE entity_type END AS object
        FROM entities, (VALUES (1, '{S.RDF_TYPE}'), (2, '{S.VITAL_TYPE}'),
                               (3, '{S.HAS_NAME}')) p(k, predicate)
        UNION ALL
        SELECT frame_uri, p.predicate,
               CASE p.k WHEN 1 THEN frame_type WHEN 2 THEN subj ELSE obj END
        FROM frames, (VALUES (1, '{S.RDF_TYPE}'), (2, '{S.EDGE_SOURCE}'),
                             (3, '{S.EDGE_DESTINATION}')) p(k, predicate);
        CREATE TABLE provenance AS
        WITH m AS (
            SELECT url, 'ent:' || surface AS eid FROM uni
            UNION ALL
            SELECT url, al.entity_id
            FROM pairs JOIN aliases al ON al.surface = a || ' ' || b),
        pm AS (
            SELECT url, count(*) AS n_mentions,
                   count(DISTINCT coalesce(c.canonical_id, eid)) AS n_entities
            FROM m LEFT JOIN canon c ON c.entity_id = eid GROUP BY url),
        pt AS (SELECT url, count(*) AS n_triples FROM pairs GROUP BY url)
        SELECT pm.*, coalesce(pt.n_triples, 0) AS n_triples
        FROM pm LEFT JOIN pt USING (url);
    """)
    for t in ("relations", "entities", "frames", "slots", "triples",
              "provenance"):
        con.execute(f"COPY {t} TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)")


# -- the query mix ----------------------------------------------------------

def embed(text: str, dim: int = 16) -> np.ndarray:
    """The deterministic hash embedder of the engine's vector store: mean of
    per-token sha256-seeded directions, L2-normalised."""
    acc = np.zeros(dim)
    for tok in text.split():
        v = np.frombuffer(hashlib.sha256(tok.encode()).digest()[:dim],
                          dtype=np.int8).astype(np.float64)
        n = np.linalg.norm(v)
        if n > 0:
            acc += v / n
    n = np.linalg.norm(acc)
    return acc / n if n > 0 else acc


def _records(entities: list[tuple]) -> tuple[list, np.ndarray]:
    """Vector records of the entity table: (uri, vector_id) and vectors —
    one record per mapped property set (name, type, name + type), stored
    as float32 like the engine's vector column."""
    cache: dict[str, np.ndarray] = {}
    keys, vecs = [], []
    for uri, name, etype in entities:
        for vid, text in (("entity_type", etype), ("entity_value", name),
                          ("general", f"{name} {etype}")):
            if text not in cache:
                cache[text] = embed(text)
            keys.append((uri, vid))
            vecs.append(cache[text])
    return keys, np.asarray(vecs, dtype=np.float32).astype(np.float64)


def _topk_answer(keys, vecs, idx, qtext: str, k: int) -> dict:
    """Scores of every record that may legally appear in the top k (within
    the tolerance of the k-th best), plus the answer size."""
    q = embed(qtext)
    sub = vecs[idx]
    norms = np.linalg.norm(sub, axis=1) * np.linalg.norm(q)
    scores = np.where(norms == 0, 0.0,
                      sub @ q / np.where(norms == 0, 1, norms))
    n = min(k, len(idx))
    if n == 0:
        return {"n": 0, "scores": {}}
    cut = np.sort(scores)[::-1][n - 1]
    ok = np.nonzero(scores >= cut - 10 * SCORE_TOL)[0]
    return {"n": n, "scores": {"|".join(keys[idx[i]]): float(scores[i])
                               for i in ok}}


def query_pool(con, expect_dir: str, seed: int) -> list[dict]:
    """Seeded query instances (``_PER_CLASS`` per class) with answers.
    Each class lists its instances from hub sources before those from tail
    sources, so the halves of a class's list differ in answer size."""
    rng = random.Random(seed)
    con.execute(f"""
        CREATE OR REPLACE TABLE e AS
        SELECT * FROM read_parquet('{expect_dir}/entities.parquet');
        CREATE OR REPLACE TABLE r AS
        SELECT * FROM read_parquet('{expect_dir}/relations.parquet');
    """)
    ents = con.execute(
        "SELECT entity_id, name, entity_type FROM e ORDER BY entity_id"
    ).fetchall()
    # sources: the most-mentioned hubs (the Zipf head ranks the same under
    # every seed, so every seed queries the same heavy entities) and, where
    # the graph has a long tail, tail entities with out-edges — half each
    hubs = [r[0] for r in con.execute(
        "SELECT entity_id FROM e ORDER BY mention_count DESC, entity_id "
        f"LIMIT {_PER_CLASS}").fetchall()]
    tail = [r[0] for r in con.execute(
        "SELECT DISTINCT subj FROM r JOIN e ON e.entity_id = r.subj "
        "WHERE e.mention_count <= 3 ORDER BY subj").fetchall()]
    sources = hubs
    if tail:
        sources = hubs[:_PER_CLASS // 2] + rng.sample(
            tail, min(len(tail), _PER_CLASS - _PER_CLASS // 2))
    # 2-hop expansion from a hub of an open vocabulary covers most of the
    # graph; path queries start at tail entities when there are any
    path_sources = rng.sample(tail, min(len(tail), _PER_CLASS)) \
        if tail else sources
    words = [e[1] for e in ents if e[2] == S.TYPE_TOKEN]
    keys, vecs = _records(ents)
    key_ix = {}
    for i, (uri, _) in enumerate(keys):
        key_ix.setdefault(uri, []).append(i)
    all_ix = np.arange(len(keys))

    def rows(sql, *args):
        return sorted(list(r) for r in con.execute(sql, list(args)).fetchall())

    pool = []
    for uri in sources:
        pool.append({"cls": "api.point", "uri": uri, "answer": rows(
            "SELECT entity_id, name, entity_type, mention_count FROM e "
            "WHERE entity_id = ?", uri)})
        pool.append({"cls": "api.linked", "uri": uri, "answer": rows(
            "SELECT r.obj, r.pred, r.weight, e.name, e.entity_type, "
            "e.mention_count FROM r JOIN e ON e.entity_id = r.obj "
            "WHERE r.subj = ?", uri)})
        pool.append({"cls": "sparql.select", "uri": uri, "answer": rows(
            f"SELECT '{S.RDF_TYPE}', entity_type FROM e WHERE entity_id = ? "
            f"UNION ALL SELECT '{S.VITAL_TYPE}', entity_type FROM e "
            f"WHERE entity_id = ? UNION ALL SELECT '{S.HAS_NAME}', name "
            f"FROM e WHERE entity_id = ?", uri, uri, uri)})
        pool.append({"cls": "sparql.construct", "uri": uri, "answer": rows(
            "SELECT DISTINCT ?, 'urn:bench:next', obj FROM r WHERE subj = ?",
            uri, uri)})
        cand = sorted({i for o, in con.execute(
            "SELECT obj FROM r WHERE subj = ?", [uri]).fetchall()
            for i in key_ix.get(o, [])})
        qtext = " ".join(rng.sample(words, min(2, len(words))))
        pool.append({"cls": "vectors.hybrid", "uri": uri, "text": qtext,
                     "answer": _topk_answer(keys, vecs, np.asarray(cand, int),
                                            qtext, HYBRID_K)})
    for uri in path_sources:
        pool.append({"cls": "sparql.path", "uri": uri, "answer": rows(
            "SELECT DISTINCT r2.obj FROM r r1 JOIN r r2 ON r2.subj = r1.obj "
            "WHERE r1.subj = ?", uri)})
    for _ in range(_PER_CLASS):
        qtext = " ".join(rng.sample(words, min(2, len(words))))
        pool.append({"cls": "vectors.knn", "text": qtext,
                     "answer": _topk_answer(keys, vecs, all_ix, qtext, KNN_K)})
    return pool


def record_id(uri: str, vector_id: str) -> str:
    return str(uuid.uuid5(uuid.NAMESPACE_URL, f"{uri}#{vector_id}"))
