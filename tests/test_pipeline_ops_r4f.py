"""Semantic tests for the round-4 sixth-wave operators — graph compute
(integer PageRank, triangle counting), canonical-URL normalization, and
sliding-window rates — each against an independent sequential Python oracle
(urllib for URLs, brute-force set arithmetic for graphs).
"""

from __future__ import annotations

from collections import Counter, defaultdict
from urllib.parse import urlsplit

import duckdb

from google_maps_scraper_spark.operators.analytics import (
    _SLIDE_US,
    events_sliding_window_rates,
    frontier_url_canonicalize,
    load,
)
from google_maps_scraper_spark.operators.graph import (
    _PR_BASE,
    _PR_ONE,
    EDGE_FANOUT,
    doc_edges,
    graph_pagerank_2iter,
    graph_triangle_count,
)

SF = "/root/testdata/sf0.001"


def _py_edges(doc_ids):
    n = len(doc_ids)
    edges = set()
    for u in doc_ids:
        for j in range(EDGE_FANOUT):
            v = (u * (j + 2) + j) % n
            if v != u:
                edges.add((u, v))
    return edges


def test_doc_edges_matches_python(spark):
    doc_ids = [r["doc_id"] for r in load(spark, SF, "documents").select("doc_id").collect()]
    expect = _py_edges(doc_ids)
    got = {(r["src"], r["dst"]) for r in doc_edges(spark, SF).collect()}
    assert got == expect
    assert all(s != d for s, d in got)


def test_pagerank_2iter_matches_python(spark):
    doc_ids = sorted(
        r["doc_id"] for r in load(spark, SF, "documents").select("doc_id").collect()
    )
    edges = _py_edges(doc_ids)
    out_deg = Counter(s for s, _ in edges)
    ranks = {u: _PR_ONE for u in doc_ids}
    for _ in range(2):
        contrib: dict = defaultdict(int)
        for s, d in edges:
            contrib[d] += ranks[s] // out_deg[s]
        ranks = {u: _PR_BASE + (85 * contrib.get(u, 0)) // 100 for u in doc_ids}
    got = {r["doc_id"]: r["pr_scaled"] for r in graph_pagerank_2iter(spark, SF).collect()}
    assert got == ranks
    # the graph must actually redistribute rank: not all nodes equal
    assert len(set(ranks.values())) > 1


def test_triangle_count_matches_python(spark):
    doc_ids = [r["doc_id"] for r in load(spark, SF, "documents").select("doc_id").collect()]
    und = {(min(s, d), max(s, d)) for s, d in _py_edges(doc_ids)}
    adj = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    per_node = Counter()
    for a, b in und:
        for c in adj[a] & adj[b]:
            if c > b:  # a < b < c counts each triangle once
                per_node[a] += 1
                per_node[b] += 1
                per_node[c] += 1
    got = {r["doc_id"]: r["n_tri"] for r in graph_triangle_count(spark, SF).collect()}
    assert got == {u: per_node.get(u, 0) for u in doc_ids}
    assert sum(got.values()) % 3 == 0  # every triangle credits 3 nodes


def _py_canon(raw: str) -> str:
    sp = urlsplit(raw)
    scheme = sp.scheme.lower()
    host = sp.hostname or ""
    if host.startswith("www."):
        host = host[4:]
    port = ""
    if sp.port is not None and not (
        (scheme == "http" and sp.port == 80) or (scheme == "https" and sp.port == 443)
    ):
        port = f":{sp.port}"
    path = sp.path.rstrip("/") or "/"
    params = sorted(
        p for p in sp.query.split("&") if p and not p.startswith("utm_")
    )
    q = f"?{'&'.join(params)}" if params else ""
    return f"{scheme}://{host}{port}{path}{q}"


def test_url_canonicalize_matches_urllib(spark):
    rows = frontier_url_canonicalize(spark, SF).collect()
    assert len(rows) == 500
    for r in rows:
        assert r["url_canon"] == _py_canon(r["url_raw"]), r["url_raw"]
    # every mess pattern appears and collapses to a clean spelling
    canons = {r["url_canon"] for r in rows}
    assert any(c.endswith("?a=1&b=2") for c in canons)      # sorted, utm dropped
    assert not any("#" in c or "www." in c or ":80/" in c for c in canons)
    assert any(":8080" in c for c in canons)                # explicit port kept


def test_url_canonicalize_vectorized_equals_hof(spark):
    """r6: the Arrow canonicalizer must equal the retired JVM withColumn/
    regex chain value-for-value (same rules, two execution paths)."""
    from pyspark.sql import functions as F

    from google_maps_scraper_spark.operators.analytics import (
        _URL_RAW_SQL,
        frontier_url_canon_base,
        load,
    )

    d = load(spark, SF, "documents").select(
        "doc_id", F.expr(_URL_RAW_SQL).alias("url_raw")
    )
    hof = {
        r["doc_id"]: r["url_canon"]
        for r in _url_canonicalize_hof_reference(d).collect()
    }
    vec = {
        r["doc_id"]: r["url_canon"]
        for r in frontier_url_canon_base(spark, SF).collect()
    }
    assert hof == vec
    # dirty inputs beyond the synthesized six shapes: missing scheme,
    # empty path+query, uppercase host with port, utm-only query
    dirty = spark.createDataFrame(
        [
            (1, "noscheme.com/p/1"),
            (2, "HTTP://UPPER.COM:8080"),
            (3, "https://h.com/?utm_only=1&"),
            (4, "http://h.com:80////"),
            (5, "https://www.h.com:443/a//?z=1&a=2#f"),
        ],
        "doc_id int, url_raw string",
    )
    hof2 = {
        r["doc_id"]: r["url_canon"]
        for r in _url_canonicalize_hof_reference(dirty).collect()
    }
    from google_maps_scraper_spark.operators.analytics import _canon_and_surt

    for did, raw in [(r["doc_id"], r["url_raw"]) for r in dirty.collect()]:
        assert _canon_and_surt(raw)[0] == hof2[did], raw


def _url_canonicalize_hof_reference(d):
    """The retired JVM withColumn/regex formulation of the canonicalizer
    over a (doc_id, url_raw) frame — kept as the value reference for the
    Arrow fast path (``_canon_and_surt``).  Once CollapseProject inlines
    the dependent withColumns, every downstream use re-embeds its upstream
    regexes; that expression tree made it the catalog's heaviest
    Janino/JIT compile, which is why the library runs the Arrow map."""
    from pyspark.sql import functions as F

    return (
        d.withColumn(
            "scheme", F.expr("lower(regexp_extract(url_raw, '^([A-Za-z]+)://', 1))")
        )
        .withColumn("rest", F.expr("substr(url_raw, instr(url_raw, '://') + 3)"))
        .withColumn("hostport", F.expr("regexp_extract(rest, '^[^/?#]*', 0)"))
        .withColumn("pathqf", F.expr("substr(rest, length(hostport) + 1)"))
        .withColumn(
            "host0", F.expr("regexp_replace(lower(hostport), ':[0-9]+$', '')")
        )
        .withColumn(
            "port", F.expr("regexp_extract(lower(hostport), ':([0-9]+)$', 1)")
        )
        .withColumn("path0", F.expr("regexp_extract(pathqf, '^[^?#]*', 0)"))
        .withColumn("query0", F.expr("regexp_extract(pathqf, '[?]([^#]*)', 1)"))
        .withColumn(
            "host",
            F.expr(
                "CASE WHEN host0 LIKE 'www.%' THEN substr(host0, 5) ELSE host0 END"
            ),
        )
        .withColumn(
            "portpart",
            F.expr(
                "CASE WHEN port = '' THEN ''"
                " WHEN scheme = 'http' AND port = '80' THEN ''"
                " WHEN scheme = 'https' AND port = '443' THEN ''"
                " ELSE ':' || port END"
            ),
        )
        .withColumn(
            "path",
            F.expr(
                "CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'"
                " ELSE regexp_replace(path0, '/+$', '') END"
            ),
        )
        .withColumn(
            "qcanon",
            F.expr(
                "array_join(array_sort(filter(split(query0, '&'),"
                " x -> x != '' AND substr(x, 1, 4) != 'utm_')), '&')"
            ),
        )
        .select(
            "doc_id",
            F.expr(
                "scheme || '://' || host || portpart || path"
                " || CASE WHEN qcanon = '' THEN '' ELSE '?' || qcanon END"
            ).alias("url_canon"),
        )
    )


def test_sliding_window_rates_matches_python(spark):
    ev = duckdb.sql(
        f"SELECT epoch_us(ts) AS us, event_type, user_id"
        f" FROM '{SF}/events.parquet'"
    ).fetchall()
    n_ev: Counter = Counter()
    users: dict = defaultdict(set)
    for us, etype, uid in ev:
        s0 = (us // _SLIDE_US) * _SLIDE_US
        for w in (s0, s0 - _SLIDE_US):
            n_ev[(w, etype)] += 1
            users[(w, etype)].add(uid)
    got = {
        (r["win_start_us"], r["event_type"]): (r["n_events"], r["n_users"])
        for r in events_sliding_window_rates(spark, SF).collect()
    }
    assert got == {k: (n_ev[k], len(users[k])) for k in n_ev}
    # every event lands in exactly 2 windows
    assert sum(v[0] for v in got.values()) == 2 * len(ev)
