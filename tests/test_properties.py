"""Property-based tests (hypothesis) for invariants that example-based tests
under-cover: randomized corpora through segment dedup, arbitrary key sets
through the Bloom path, and tokenizer parity with the Python reference.

Spark jobs are expensive per example, so each property batches one generated
dataset per example and runs few examples; the generators bias toward
collision-heavy small alphabets — the regime where dedup/Bloom logic can go
wrong silently.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from bytesme_etl_batch_pipeline_spark.operators.bloom import build_bloom
from bytesme_etl_batch_pipeline_spark.operators.neardup import segment_dedup
from bytesme_etl_batch_pipeline_spark.operators.textops import words

# Tiny alphabet → heavy cross-doc collisions, the interesting regime.
_WORD = st.sampled_from(["alpha", "beta", "gamma", "delta", "x1", "y2"])
_DOC = st.lists(_WORD, min_size=0, max_size=24).map(" ".join)
_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@given(texts=st.lists(_DOC, min_size=1, max_size=12))
@_SETTINGS
def test_segment_dedup_invariants(spark, texts):
    """For ANY corpus: (1) every segment text survives exactly once across
    the whole output; (2) per-doc kept+dropped equals the doc's segment
    count; (3) surviving text is a concatenation of the doc's own segments
    in order."""
    seg_w = 4
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = {r.doc_id: r for r in segment_dedup(docs, seg_words=seg_w).collect()}

    # reference segmentation (python twin of the operator's spec)
    def segs(t):
        ws = t.split()
        return [" ".join(ws[i : i + seg_w]) for i in range(0, len(ws), seg_w)]

    seen = set()
    for i, t in enumerate(texts):
        expect_all = segs(t)
        # keep-first is GLOBAL over (doc_id, position) — a segment repeated
        # WITHIN one doc keeps only its first copy too, so `seen` must
        # advance per segment, not per doc (operator contract; a per-doc
        # batch update would wrongly keep within-doc duplicates)
        kept = []
        for s in expect_all:
            if s not in seen:
                kept.append(s)
                seen.add(s)
        assert out[i].clean_text == " ".join(kept)
        assert out[i].n_kept == len(kept)
        assert out[i].n_dropped == len(expect_all) - len(kept)

    # global uniqueness: no segment text survives in two docs' outputs
    flat = [
        s
        for i in range(len(texts))
        if out[i].clean_text
        for s in segs(out[i].clean_text)
    ]
    assert len(flat) == len(set(flat))


@given(members=st.lists(st.text(min_size=0, max_size=8), min_size=1, max_size=50))
@_SETTINGS
def test_bloom_never_false_negative(spark, members):
    """Membership probes over the exact build set always answer yes —
    including empty strings and unicode keys."""
    df = spark.createDataFrame([(m,) for m in members], "k string")
    bloom = build_bloom(df, "k", expected_items=len(members), fpp=0.05)
    from bytesme_etl_batch_pipeline_spark.operators.bloom import bloom_might_contain

    flags = df.select(bloom_might_contain(df, bloom, "k").alias("hit")).collect()
    assert all(r.hit for r in flags)


@given(texts=st.lists(st.text(alphabet=" \t\nabcXYZ0.!", max_size=30), min_size=1, max_size=20))
@_SETTINGS
def test_words_matches_python_split(spark, texts):
    """The engine's tokenizer (split on \\s+, drop empties, lowercase) must
    agree with Python's str.split() reference on ASCII corpora — the
    contract every DuckDB oracle's word-split twin assumes."""
    df = spark.createDataFrame(list(enumerate(texts)), "i long, t string")
    got = {r.i: r.ws for r in df.select("i", words("t").alias("ws")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == t.lower().split()


_CHANGE = st.tuples(
    st.integers(min_value=0, max_value=6),     # key
    st.sampled_from(["I", "U", "D"]),          # op
    st.floats(min_value=0, max_value=100, allow_nan=False),
)


@given(changes=st.lists(_CHANGE, min_size=1, max_size=30))
@_SETTINGS
def test_scd2_invariants(spark, changes):
    """SCD2 history invariants on random change feeds: (a) per key, validity
    intervals chain exactly through the key's change sequence (each
    valid_to equals the NEXT change's seq, regardless of op); (b) at most
    one current row per key, present iff the key's last change is not a
    delete; (c) surviving versions = non-delete changes."""
    from bytesme_etl_batch_pipeline_spark.operators.cdc import scd2_history

    rows = [(k, i, op, p) for i, (k, op, p) in enumerate(changes)]
    df = spark.createDataFrame(rows, "key long, seq long, op string, payload double")
    hist = scd2_history(df, "key", "seq", ["payload"]).collect()

    by_key = {}
    for k, seq, op, p in rows:
        by_key.setdefault(k, []).append((seq, op, p))
    n_versions = sum(1 for _, _, op, _ in rows if op != "D")
    assert len(hist) == n_versions

    got_by_key = {}
    for r in hist:
        got_by_key.setdefault(r["key"], []).append(r)
    for k, rs in got_by_key.items():
        feed = sorted(by_key[k])
        nxt = {feed[i][0]: feed[i + 1][0] for i in range(len(feed) - 1)}
        currents = [r for r in rs if r["is_current"]]
        assert len(currents) <= 1
        last_op = feed[-1][1]
        assert bool(currents) == (last_op != "D")
        for r in rs:
            assert r["valid_to"] == nxt.get(r["valid_from"])


@given(
    old_keys=st.sets(st.integers(0, 15), max_size=12),
    new_keys=st.sets(st.integers(0, 15), max_size=12),
    bumped=st.sets(st.integers(0, 15), max_size=6),
)
@_SETTINGS
def test_snapshot_diff_partitions_key_space(spark, old_keys, new_keys, bumped):
    """snapshot_diff must classify every key exactly once and drop exactly
    the unchanged ones."""
    from bytesme_etl_batch_pipeline_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(k, float(k)) for k in old_keys] or [(None, None)],
        "key long, v double",
    ).filter("key IS NOT NULL")
    new = spark.createDataFrame(
        [(k, float(k) + (1.0 if k in bumped else 0.0)) for k in new_keys]
        or [(None, None)],
        "key long, v double",
    ).filter("key IS NOT NULL")
    got = {r["key"]: r["status"] for r in snapshot_diff(old, new, "key", ["v"]).collect()}
    want = {}
    for k in old_keys | new_keys:
        if k not in old_keys:
            want[k] = "added"
        elif k not in new_keys:
            want[k] = "removed"
        elif k in bumped:
            want[k] = "changed"
    assert got == want


@given(
    n_rows=st.integers(min_value=0, max_value=40),
    n=st.integers(min_value=1, max_value=4),
)
@_SETTINGS
def test_per_group_sample_size_and_determinism(spark, n_rows, n):
    """≤ n rows per group, a subset of the input, identical under
    repartitioning."""
    from bytesme_etl_batch_pipeline_spark.operators.sampling import per_group_sample

    rows = [(i, f"g{i % 3}") for i in range(n_rows)]
    df = spark.createDataFrame(rows or [(None, None)], "id long, grp string").filter(
        "id IS NOT NULL"
    )
    out1 = {(r["id"], r["grp"]) for r in per_group_sample(df, "id", "grp", n).collect()}
    out2 = {
        (r["id"], r["grp"])
        for r in per_group_sample(df.repartition(7), "id", "grp", n).collect()
    }
    assert out1 == out2
    assert out1 <= set(rows)
    from collections import Counter

    per_grp = Counter(g for _, g in out1)
    for g, c in per_grp.items():
        assert c <= n
        assert c == min(n, sum(1 for _, gg in rows if gg == g))


def test_cms_estimate_dominates_true_count(spark):
    """CMS invariant: estimate ≥ true count for EVERY token (not just the
    top-20 the catalog query returns). The test sketch is 4×4 — far
    narrower than the catalog query's 4×64 — because sf0.001's vocabulary
    is only ~31 tokens: width 4 guarantees per-row collisions, so at least
    one strict overestimate must exist."""
    from bytesme_etl_batch_pipeline_spark.operators.textops import md5_hash48, words
    from pyspark.sql import Window

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tok = d.select(F.explode(words("text")).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    rows = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                (md5_hash48(F.concat(F.lit(f"cms{j}|"), F.col("token"))) % 4).alias(
                    "bucket"
                ),
            )
            for j in range(4)
        ]
    )
    kb = counts.select("token", "cnt", F.explode(rows).alias("b")).select(
        "token", "cnt", F.col("b.row").alias("row"), F.col("b.bucket").alias("bucket")
    )
    est = (
        kb.withColumn("cell", F.sum("cnt").over(Window.partitionBy("row", "bucket")))
        .groupBy("token")
        .agg(F.max("cnt").alias("cnt"), F.min("cell").alias("est"))
        .collect()
    )
    assert est, "empty token dictionary"
    assert all(r["est"] >= r["cnt"] for r in est)
    assert any(r["est"] > r["cnt"] for r in est), "4x4 sketch never collided"


_KEY = st.sampled_from([0, 1, 2, None])
_TIME = st.sampled_from([0, 1, 2, 3, 4, 5, None])


@given(
    lefts=st.lists(st.tuples(_KEY, _TIME), min_size=1, max_size=14),
    rights=st.lists(
        st.tuples(_KEY, _TIME, st.integers(min_value=0, max_value=99)),
        max_size=14,
    ),
)
@_SETTINGS
def test_asof_join_matches_bruteforce(spark, lefts, rights):
    """For ANY left/right sets (duplicate keys, duplicate timestamps,
    NULL keys, NULL times), asof_join equals the per-row brute force of
    its documented contract: latest right row with rt <= lt per key;
    NULL-key/NULL-time right rows never match; NULL-key or NULL-time
    left rows pass through unmatched; (key, time) ties on the right go
    to the greatest value struct."""
    from bytesme_etl_batch_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)],
        "lid long, k long, t long",
    )
    right = spark.createDataFrame(rights, "k long, rt long, v long") if rights else (
        spark.createDataFrame([], "k long, rt long, v long")
    )
    got = {
        r.lid: (r.k, r.t, r.v)
        for r in asof_join(left, right, key="k", left_time="t",
                           right_time="rt", right_vals=["v"]).collect()
    }
    assert len(got) == len(lefts)  # every left row survives exactly once
    for i, (k, t) in enumerate(lefts):
        if k is None or t is None:
            want = None
        else:
            cands = [(rt, v) for rk, rt, v in rights
                     if rk == k and rt is not None and rt <= t]
            want = max(cands)[1] if cands else None
        assert got[i] == (k, t, want), (i, k, t, got[i], want)


@given(
    vals=st.lists(st.sampled_from([0, 1, 5, 9, 10, 15, 50, None]),
                  min_size=1, max_size=12),
    bounds=st.lists(
        st.tuples(st.integers(min_value=0, max_value=20),
                  st.integers(min_value=0, max_value=60)),
        max_size=6,
    ),
)
@_SETTINGS
def test_range_join_matches_bruteforce(spark, vals, bounds):
    """For ANY fact values (incl. NULL) and ANY range table (overlapping,
    empty, or inverted ranges), range_join equals the brute-force
    left-join multiset: one row per (fact, containing range), a
    NULL-tier row for facts in no range, NULL values match nothing."""
    from bytesme_etl_batch_pipeline_spark.operators.joins import range_join

    fact = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "fid long, val long"
    )
    ranges = spark.createDataFrame(
        [(j, lo, hi) for j, (lo, hi) in enumerate(bounds)],
        "tier long, lo long, hi long",
    ) if bounds else spark.createDataFrame([], "tier long, lo long, hi long")
    got = sorted(
        (r.fid, r.tier)
        for r in range_join(fact, ranges, "val", "lo", "hi")
        .select("fid", "tier").collect()
    )
    want = []
    for i, v in enumerate(vals):
        hits = [j for j, (lo, hi) in enumerate(bounds)
                if v is not None and lo <= v < hi]
        want.extend((i, j) for j in hits) if hits else want.append((i, None))
    assert got == sorted(want)


_NODE = st.sampled_from([0, 1, 2, 3, 4, 5, 6, 7, None])


@given(edges=st.lists(st.tuples(_NODE, _NODE), min_size=1, max_size=18))
@_SETTINGS
def test_connected_components_match_union_find(spark, edges):
    """For ANY edge list (self-loops, NULL endpoints, duplicates, long
    chains), both CC variants emit exactly the union-find labeling:
    node -> min reachable node id over the junk-cleaned edge set, with
    junk-only nodes absent."""
    from bytesme_etl_batch_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    df = spark.createDataFrame(edges, "src long, dst long")

    clean = [(u, v) for u, v in edges if u is not None and v is not None and u != v]
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in clean:
        parent.setdefault(u, u), parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    roots = {}
    for n in parent:
        roots.setdefault(find(n), []).append(n)
    want = {n: min(mem) for mem in roots.values() for n in mem}

    for variant in (connected_components, connected_components_star):
        got = {r.node: r.cluster_id
               for r in variant(df, max_iter=40).collect()}
        assert got == want, (variant.__name__, got, want)


@given(
    quals=st.lists(st.integers(min_value=0, max_value=3), min_size=2, max_size=10),
    rawpairs=st.lists(
        st.tuples(st.integers(min_value=0, max_value=9),
                  st.integers(min_value=0, max_value=9)),
        max_size=16,
    ),
)
@_SETTINGS
def test_neardup_keep_best_matches_dominance_rule(spark, quals, rawpairs):
    """For ANY quality assignment (heavy ties) and ANY pair list, survivors
    are exactly the docs with no strictly-better neighbor under the total
    order (quality desc, id asc) — and every duplicate neighborhood keeps
    at least one doc (its maximum), so the filter can never empty a
    component."""
    from bytesme_etl_batch_pipeline_spark.operators.neardup import neardup_keep_best

    n = len(quals)
    docs = spark.createDataFrame(
        [(i, q) for i, q in enumerate(quals)], "doc_id long, quality long"
    )
    pairs = [(a % n, b % n) for a, b in rawpairs if a % n != b % n]
    pdf = (
        spark.createDataFrame(pairs, "doc_a long, doc_b long")
        if pairs else spark.createDataFrame([], "doc_a long, doc_b long")
    )
    got = sorted(
        r.doc_id
        for r in neardup_keep_best(docs, pdf, "doc_id", "quality").collect()
    )

    neigh = {i: set() for i in range(n)}
    for a, b in pairs:
        neigh[a].add(b), neigh[b].add(a)
    order = lambda i: (-quals[i], i)  # noqa: E731 — total order: best first
    want = sorted(
        i for i in range(n)
        if not any(order(o) < order(i) for o in neigh[i])
    )
    assert got == want

    # component-preservation: the best doc of each component always survives
    seen, comps = set(), []
    for i in range(n):
        if i in seen:
            continue
        stack, comp = [i], set()
        while stack:
            x = stack.pop()
            if x in comp:
                continue
            comp.add(x), stack.extend(neigh[x])
        seen |= comp
        comps.append(comp)
    for comp in comps:
        assert min(comp, key=order) in got


_SEG = st.sampled_from(["a", "b", "c"])


@given(
    paths=st.lists(st.lists(_SEG, min_size=0, max_size=3), min_size=1, max_size=12),
    hosts=st.lists(st.sampled_from(["h1.vn", "h2.vn"]), min_size=1, max_size=12),
)
@_SETTINGS
def test_drop_parent_paths_matches_bruteforce(spark, paths, hosts):
    """For ANY url set (shared prefixes, duplicates, roots, trailing
    slashes, multiple hosts): survivors are exactly the urls with no
    strict path-extension on the SAME host; prefix-without-boundary
    (/cake vs /cakes) never counts as parentage."""
    from bytesme_etl_batch_pipeline_spark.operators.dedup import drop_parent_paths

    urls = []
    for i, p in enumerate(paths):
        host = hosts[i % len(hosts)]
        if p:
            urls.append(f"https://{host}/" + "/".join(p))
        else:
            # exercise BOTH site-root spellings (ADVICE r4): the bare
            # authority ('https://h') parses to a NULL path, the slashed
            # root to '/' — they must behave identically
            urls.append(f"https://{host}" + ("/" if i % 2 else ""))
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = sorted(r.url for r in drop_parent_paths(df, "url").collect())

    def norm(u):
        host, _, path = u.removeprefix("https://").partition("/")
        return host, "/" + path.rstrip("/") if path else ""

    uniq = sorted(set(urls))
    want = sorted(
        u for u in uniq
        if not any(
            norm(v)[0] == norm(u)[0] and norm(v)[1].startswith(norm(u)[1] + "/")
            for v in uniq
        )
    )
    assert got == want


def test_drop_parent_paths_bare_root_dropped_like_slashed_root(spark):
    """ADVICE r4 (low): 'https://x.com' (NULL path) and 'https://x.com/'
    (path '/') are the same site root — BOTH must be dropped when any
    child exists on that site, and both survive on a childless site."""
    from bytesme_etl_batch_pipeline_spark.operators.dedup import drop_parent_paths

    urls = [
        "https://x.com",          # bare root, has a child -> dropped
        "https://x.com/",         # slashed root, same site -> dropped
        "https://x.com/cakes",    # leaf -> kept
        "https://lonely.vn",      # bare root, no children -> kept
        "https://alone.vn/",      # slashed root, no children -> kept
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = sorted(r.url for r in drop_parent_paths(df, "url").collect())
    assert got == sorted(
        ["https://x.com/cakes", "https://lonely.vn", "https://alone.vn/"]
    )


def test_drop_parent_paths_never_crosses_ports_or_schemes(spark):
    """Different ports (and schemes) of one host are different sites: a
    path on :8080 is never pruned by its extension on :9090."""
    from bytesme_etl_batch_pipeline_spark.operators.dedup import drop_parent_paths

    urls = [
        "https://shop.vn:8080/a",
        "https://shop.vn:9090/a/b",
        "http://shop.vn/a",
        "https://shop.vn/a/b/c",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    assert sorted(r.url for r in drop_parent_paths(df, "url").collect()) == sorted(urls)
