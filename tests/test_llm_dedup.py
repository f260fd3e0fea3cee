"""Sketch-dedup ground-truth checks (rows-only queries need real tests).

llm_dedup_ngram (exact, oracle-checked) is the ground truth; the
MinHash and SimHash variants are graded against it.
"""

from __future__ import annotations

from local_etl_spark.registry import get

SF = "/root/testdata/sf0.01"


def _pairs(spark, name):
    return {
        (r["d1"], r["d2"]): r for r in get(name).fn(spark, SF).collect()
    }


def test_minhash_agrees_with_exact(spark):
    """Post-verification MinHash output must equal the exact pairs: the
    planted near-dups sit at J≈0.97 where LSH(16×4) recall ≈ 1, and the
    exact-Jaccard verify step makes precision 1 by construction."""
    exact = _pairs(spark, "llm_dedup_ngram")
    mh = _pairs(spark, "llm_dedup_minhash")
    assert set(mh) == set(exact)
    for k, row in mh.items():
        assert row["jaccard"] == exact[k]["jaccard"]


def test_simhash_finds_planted_dups(spark):
    """SimHash measures token-distribution similarity, not 3-gram
    Jaccard, so exact set equality with the ngram ground truth is not
    the contract. Two contracts instead: (1) BLOCK-LSH COMPLETENESS —
    the query output must equal the brute-force all-pairs hamming ≤ 5
    set computed driver-side from the same signatures (pigeonhole: 8
    disjoint 8-bit blocks recall everything at hamming ≤ 7, so nothing
    under the threshold may be missed); (2) SEMANTICS — most planted
    near-dups (J ≥ 0.9) land under the threshold, and every miss is
    genuinely distribution-distant (hamming ≥ 8), i.e. a measure
    divergence, never a blocking failure."""
    import itertools

    from local_etl_spark.catalog import table
    from local_etl_spark.queries.llm_dedup import simhash_signatures

    exact = set(_pairs(spark, "llm_dedup_ngram"))
    sh = _pairs(spark, "llm_dedup_simhash")
    assert all(r["hamming"] <= 5 for r in sh.values())

    sig = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures(table(spark, SF, "documents")).collect()
    }
    ham = {
        (a, b): bin((sig[a] ^ sig[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
        for a, b in itertools.combinations(sorted(sig), 2)
    }
    brute = {p for p, h in ham.items() if h <= 5}
    assert set(sh) == brute, (
        f"block LSH incomplete: {brute ^ set(sh)}"
    )
    recalled = exact & set(sh)
    assert len(recalled) >= 0.85 * len(exact), (exact - set(sh))
    for p in exact - set(sh):
        assert ham[p] >= 8, f"missed pair {p} at hamming {ham[p]}"
    # selectivity: candidates must be a vanishing fraction of the
    # ~125k possible pairs (the tiny synthetic vocab guarantees some
    # distribution-similar false positives; 3-gram structure is what
    # they lack, which is exactly what simhash does not see)
    assert len(sh) <= 125, f"not selective: {len(sh)} pairs"


def test_exact_dedup_counts(spark):
    rows = get("llm_dedup_exact").fn(spark, SF).collect()
    # all sf0.01 texts are distinct → every group is a singleton, and
    # group count equals the table count
    assert len(rows) == 500
    assert all(r["n_copies"] == 1 for r in rows)


def test_cluster_matches_union_find(spark):
    """Label propagation must produce exactly the connected components
    a driver-side union-find finds on the same pair list."""
    pairs = [
        (r["d1"], r["d2"])
        for r in get("llm_dedup_ngram").fn(spark, SF).collect()
    ]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for r in get("llm_dedup_cluster").fn(spark, SF).collect():
        want[r["doc_id"]] = r["cluster_id"]
        assert r["is_canonical"] == (r["doc_id"] == r["cluster_id"])
    for doc, cluster in want.items():
        assert cluster == (find(doc) if doc in parent else doc), doc


def _write_hot_shingle_corpus(spark, path: str) -> dict[int, set[str]]:
    """60-doc corpus where every doc shares a 5-word hot prefix (3 hot
    shingles, df=60) and docs 2k/2k+1 (k<5) are planted near-dups via
    identical rare tails. Returns the per-doc 3-gram sets."""
    rows = []
    for i in range(60):
        tail_seed = i // 2 if i < 10 else i  # first 5 pairs are dups
        tail = " ".join(f"w{tail_seed}x{j}" for j in range(10))
        extra = f"u{i}a" if i < 10 else ""  # dups differ by one token
        text = f"the quick brown fox jumps {tail} {extra}".strip()
        rows.append((i, text, "en", "synth", len(text)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    grams = {}
    for i, text, *_ in rows:
        ws = text.split(" ")
        grams[i] = {" ".join(ws[j : j + 3]) for j in range(len(ws) - 2)}
    return grams


def test_ngram_df_cap_on_hot_shingle_corpus(spark, tmp_path):
    """With a binding df-cap, the inverted-index join must drop the hot
    (stop) shingle postings yet still return the full J≥0.5 pair set,
    exactly matching both a brute-force spec and the prefix-filtered
    operator — true pairs always share rare shingles, so the cap costs
    no recall here while bounding the join fan-out to cap² per shingle."""
    from local_etl_spark.queries.llm_dedup import (
        JACCARD_T,
        llm_dedup_ngram,
        llm_dedup_prefix,
    )

    sf = str(tmp_path)
    grams = _write_hot_shingle_corpus(spark, sf)
    brute = set()
    for a in grams:
        for b in grams:
            if a < b:
                j = len(grams[a] & grams[b]) / len(grams[a] | grams[b])
                if j >= JACCARD_T:
                    brute.add((a, b))
    assert len(brute) == 5  # the 5 planted pairs, nothing else
    capped = {
        (r["d1"], r["d2"]) for r in llm_dedup_ngram(spark, sf, df_cap=10).collect()
    }
    assert capped == brute
    prefix = {(r["d1"], r["d2"]) for r in llm_dedup_prefix(spark, sf).collect()}
    assert prefix == brute
    # cap binds observably: at df_cap=1 even the rare shared shingles
    # (df=2) are dropped, so no candidates survive
    assert llm_dedup_ngram(spark, sf, df_cap=1).count() == 0


def test_prefix_filter_equals_plain_index(spark):
    """AllPairs prefix filtering must return the IDENTICAL pair set as
    the full inverted index — the filter is a pruning, not an
    approximation."""
    plain = sorted(
        map(tuple, get("llm_dedup_ngram").fn(spark, SF).collect())
    )
    pruned = sorted(
        map(tuple, get("llm_dedup_prefix").fn(spark, SF).collect())
    )
    assert plain == pruned and len(plain) > 0


def test_bloom_incremental_no_false_negatives_bounded_fp(spark):
    """Bloom routing semantics: every true duplicate routes to
    'verify' (no false negatives — the property that makes 'admit'
    safe with NO join against history), and the false-positive rate
    stays within ~5x the configured 1%."""
    from local_etl_spark.registry import get

    rows = get("llm_dedup_bloom_incremental").fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    fp = fn = n_new_unique = 0
    for r in rows:
        if r["is_true_dup"]:
            assert r["probably_seen"], f"false negative at doc {r['doc_id']}"
            assert r["route"] == "verify"
        else:
            n_new_unique += 1
            if r["probably_seen"]:
                fp += 1
    assert n_new_unique > 0
    assert fp / n_new_unique <= 0.05, (fp, n_new_unique)


def test_lsh_cosine_subset_and_recall(spark):
    """SRP-LSH near-dup pairs: every returned pair is exact-verified
    (subset of the brute-force result with identical scores), and the
    32x6 banding recalls >=0.8 of the exact pairs at this corpus'
    loose 0.4 threshold (measured 0.92 at both test SFs; see the
    operator docstring for the band-bits/recall trade)."""
    exact = {
        (r["v1"], r["v2"]): r["score"]
        for r in get("llm_dedup_embed").fn(spark, SF).collect()
    }
    lsh = {
        (r["v1"], r["v2"]): r["score"]
        for r in get("llm_dedup_lsh_cosine").fn(spark, SF).collect()
    }
    assert set(lsh) <= set(exact)
    assert all(lsh[k] == exact[k] for k in lsh)
    # pair recall through the SAME retrieval_metrics aggregation the
    # hash-checked llm_retrieval_eval query uses (pair → scalar key,
    # gold = exact pair set, k = |gold|; the shortlist is a subset of
    # gold, so recall@|gold| ≡ |lsh|/|exact|)
    from pyspark.sql import functions as F

    from local_etl_spark.queries.llm_sim import retrieval_metrics

    key = (F.col("v1") * 10_000_000 + F.col("v2")).alias("vec_id")
    sl = (
        get("llm_dedup_lsh_cosine")
        .fn(spark, SF)
        .select(F.lit("lsh_cosine").alias("system"), key, "score")
    )
    gold = get("llm_dedup_embed").fn(spark, SF).select(key)
    m = retrieval_metrics(sl, gold, k=len(exact)).collect()[0]
    assert m["recall_at_k"] >= 0.8, m.asDict()


def _write_massdup_corpus(spark, path: str, m: int = 200, n_sim: int = 100):
    """Adversarial dedup corpus (VERDICT r4 item 2):
      - an m-document IDENTICAL clique (m >> MINHASH_BUCKET_CAP) — the
        input that used to put m²/2 array-pair rows in one band task;
      - n_sim DISTINCT docs sharing a 100-word base + one unique tail
        word (J≈0.94 pairwise), dense enough that whole band buckets
        exceed the cap and the secondary sub-split engages.
    """
    rows = []
    clique_text = " ".join(f"c{j}" for j in range(30))
    for i in range(m):
        rows.append((i, clique_text, "en", "synth", len(clique_text)))
    base = " ".join(f"b{j}" for j in range(100))
    for k in range(n_sim):
        text = f"{base} tail{k}"
        rows.append((10_000 + k, text, "en", "synth", len(text)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_minhash_massdup_bounded_and_complete(spark, tmp_path):
    """The r4 verdict fix, pinned: on a mass-duplicated corpus the
    MinHash buckets stay bounded (identical sets collapse before
    banding; distinct-set buckets over the cap sub-split) while the
    pair OUTPUT stays equal to exact ngram on the clique and >=0.99
    recalled on the dense distinct cluster, with exact Jaccard values
    on every recalled pair."""
    from local_etl_spark.queries.llm_dedup import (
        MINHASH_BUCKET_CAP,
        _minhash_buckets,
    )
    from pyspark.sql import functions as F

    sf = str(tmp_path)
    m, n_sim = 200, 100
    _write_massdup_corpus(spark, sf, m=m, n_sim=n_sim)

    # structural bound: per-task distinct-set count is capped. The m
    # identical docs contribute ONE banding participant; the dense
    # distinct cluster drives buckets past the cap, and the hash
    # sub-split keeps every task within ~2x the cap (hash balance).
    members, _reps, keyed = _minhash_buckets(spark, sf)
    assert members.count() == m + n_sim
    assert members.select("set_hash").distinct().count() == 1 + n_sim
    pre = keyed.groupBy("band", "bh").count().agg(F.max("count")).first()[0]
    assert pre > MINHASH_BUCKET_CAP, "corpus fails to exercise the split"
    post = (
        keyed.groupBy("band", "bh", "sub").count().agg(F.max("count")).first()[0]
    )
    assert post <= 2 * MINHASH_BUCKET_CAP, f"unbounded task: {post}"

    exact = _pairs_at(spark, "llm_dedup_ngram", sf)
    mh = _pairs_at(spark, "llm_dedup_minhash", sf)
    # clique pairs: all present at exactly 1.0 (collapse makes this
    # deterministic — no LSH probability involved)
    clique = {(a, b) for a in range(m) for b in range(a + 1, m)}
    assert clique <= set(mh)
    assert all(mh[k]["jaccard"] == 1.0 for k in clique)
    # distinct cluster: sub-split may drop a pair per its documented
    # contract; recall stays >=0.99 and every recalled value is exact
    assert set(mh) <= set(exact)
    assert len(mh) / len(exact) >= 0.99
    for k, row in mh.items():
        assert row["jaccard"] == exact[k]["jaccard"]


def _pairs_at(spark, name, sf):
    return {
        (r[0], r[1]): r for r in get(name).fn(spark, sf).collect()
    }


def test_lsh_cosine_massdup_collapse(spark, tmp_path):
    """Mass-duplicated embeddings (m >> LSH_BUCKET_CAP identical
    vectors) must collapse to one LSH participant: the output still
    carries all m(m-1)/2 clique pairs at score 1.0 (materialized by
    the member-expansion join, not inside one Python task) and still
    recalls a planted distinct near-dup pair."""
    import numpy as np
    from pyspark.sql import functions as F

    m, n_rand = 1200, 40
    rng = np.random.RandomState(7)
    v = rng.standard_normal(64).astype("float32")
    rows = [(i, [float(x) for x in v], 0) for i in range(m)]
    rand = rng.standard_normal((n_rand, 64)).astype("float32")
    for k in range(n_rand):
        rows.append((10_000 + k, [float(x) for x in rand[k]], 1))
    # planted near-dup of the first random vector (cos ≈ 0.999)
    near = rand[0] + 0.01 * rng.standard_normal(64).astype("float32")
    rows.append((20_000, [float(x) for x in near], 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")

    out = get("llm_dedup_lsh_cosine").fn(spark, sf).persist()
    clique = out.filter((F.col("v1") < m) & (F.col("v2") < m))
    agg = clique.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("score").alias("lo"),
        F.max("score").alias("hi"),
    ).first()
    assert agg["n"] == m * (m - 1) // 2
    assert agg["lo"] == 1.0 and agg["hi"] == 1.0
    planted = out.filter((F.col("v1") == 10_000) & (F.col("v2") == 20_000))
    assert planted.count() == 1
    assert planted.first()["score"] >= 0.9
    out.unpersist()


def test_embed_gate_blocked_path_subset_and_recall(spark, monkeypatch):
    """The above-gate IVF cell-blocked path of llm_dedup_embed
    (VERDICT r5 #4): every returned pair is exact-verified (subset of
    the all-pairs result with identical 6-dp scores — the per-pair
    arithmetic is the same fold), and P=4 multi-probe over k=16 cells
    recalls >=0.9 of the exact pairs (measured 1.0 at sf0.01, 0.985 at
    sf0.001, 0.954 at sf0.1 — single-probe is 0.27 at this loose 0.4
    threshold, which is why the probes exist)."""
    from local_etl_spark.queries import llm_dedup

    exact = {
        (r["v1"], r["v2"]): r["score"]
        for r in llm_dedup.llm_dedup_embed(spark, SF).collect()
    }
    monkeypatch.setattr(llm_dedup, "EMBED_ALLPAIRS_MAX_VECTORS", 0)
    blocked = {
        (r["v1"], r["v2"]): r["score"]
        for r in llm_dedup.llm_dedup_embed(spark, SF).collect()
    }
    assert set(blocked) <= set(exact)
    assert all(blocked[k] == exact[k] for k in blocked)
    assert len(blocked) / len(exact) >= 0.9


def test_e2e_oracle_assumptions(spark):
    """Pin the two corpus properties the llm_dedup_cluster/e2e oracle
    equality rests on (ADVICE r7), at every shipped SF, so a future
    corpus change fails HERE instead of as an external hash mismatch:

    1. LSH miss band empty: llm_dedup_e2e derives clusters from
       MinHash-LSH pairs while its SQL witness uses the exact n-gram
       closure; 16x4 banding detects a pair at J=0.5 with only ~64%
       probability, so equality needs every true pair's exact Jaccard
       clear of the (0.5, 0.8) band where recall is materially < 1.
    2. df-cap inert: the oracles rebuild the pair graph WITHOUT
       llm_dedup_ngram's engine-side DF_CAP stop-shingle drop, so max
       shingle document frequency must stay under DF_CAP.
    """
    import duckdb

    from local_etl_spark.queries.llm_dedup import DF_CAP

    for sf in ("/root/testdata/sf0.001", SF, "/root/testdata/sf0.1"):
        jmin = (
            get("llm_dedup_ngram").fn(spark, sf).agg({"jaccard": "min"}).first()[0]
        )
        assert jmin is None or jmin >= 0.8, (sf, jmin)

        con = duckdb.connect()
        max_df = con.execute(
            f"""
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM read_parquet('{sf}/documents.parquet')),
            sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, len(ws) - 2),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
                   FROM w WHERE len(ws) >= 3)
            SELECT max(df) FROM (
                SELECT count(*) AS df FROM sh GROUP BY s)
            """
        ).fetchone()[0]
        con.close()
        assert max_df < DF_CAP, (sf, max_df)


def test_dedup_url_python_ground_truth(spark):
    """llm_dedup_url's oracle shares the regex cascade text with the
    engine, so a semantically wrong step would still hash-match. This
    is the INDEPENDENT implementation: URLs rebuilt in Python and
    canonicalized with urllib parsing (no regex), then the full
    (canonical -> n_crawls, n_variants, keeper) map compared."""
    from collections import defaultdict
    from urllib.parse import urlsplit

    import duckdb

    con = duckdb.connect()
    try:
        docs = con.execute(
            f"SELECT doc_id, source FROM read_parquet("
            f"'{SF}/documents.parquet')"
        ).fetchall()
    finally:
        con.close()

    def build(doc_id: int, source: str) -> str:
        scheme = ["http://", "https://", "HTTPS://"][doc_id % 3]
        www = "www." if doc_id % 2 == 0 else ""
        suffix = [
            "",
            "/",
            "?utm_source=newsletter&utm_medium=email",
            "?id=7&utm_campaign=q3#ref-2",
            "?utm_campaign=q3",
            "/#top",
            "/?utm_id=9",
        ][doc_id % 7]
        return (
            f"{scheme}{www}{source}.example.org/Articles/"
            f"{doc_id % 40}{suffix}"
        )

    def canonicalize(url: str) -> str:
        s = urlsplit(url.lower())
        host = s.netloc
        if host.startswith("www."):
            host = host[4:]
        params = [
            p
            for p in s.query.split("&")
            if p and not p.split("=")[0].startswith("utm_")
        ]
        path = s.path.rstrip("/")
        return host + path + ("?" + "&".join(params) if params else "")

    truth: dict[str, list] = defaultdict(lambda: [0, set(), None])
    for doc_id, source in docs:
        url = build(doc_id, source)
        c = canonicalize(url)
        g = truth[c]
        g[0] += 1
        g[1].add(url)
        g[2] = doc_id if g[2] is None else min(g[2], doc_id)

    out = {
        r["canonical_url"]: r
        for r in get("llm_dedup_url").fn(spark, SF).collect()
    }
    assert set(out) == set(truth)
    for c, (n, variants, keeper) in truth.items():
        r = out[c]
        assert r["n_crawls"] == n
        assert r["n_variants"] == len(variants)
        assert r["keeper_doc_id"] == keeper
    # the corpus actually exercises the cascade: multi-variant groups
    # exist, and the real ?id= param splits pages rather than merging
    assert any(r["n_variants"] > 1 for r in out.values())
    assert any(c.endswith("?id=7") for c in out)


def test_lsh_cosine_oracle_guards_inert(spark):
    """The r12 SQL witness for llm_dedup_lsh_cosine skips two engine
    guards that never fire on shipped corpora — pin BOTH margins
    loudly (the kcore/df-cap contract pattern) so a corpus change
    fails here, not as an opaque oracle mismatch:
      (a) identical-embedding collapse: zero duplicate embeddings at
          every shipped SF (the xxhash64 group step is a bijection);
      (b) hot-bucket sub-split: every band bucket stays ≤ half of
          LSH_BUCKET_CAP (measured max 73 vs cap 512 at sf0.1)."""
    import numpy as np

    from local_etl_spark.catalog import table
    from local_etl_spark.queries.llm_dedup import (
        LSH_BANDS,
        LSH_BITS,
        LSH_BUCKET_CAP,
        _lsh_planes,
    )

    planes = _lsh_planes()
    for sf in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        rows = (
            table(spark, sf, "embeddings")
            .select("vec_id", "embedding")
            .collect()
        )
        embs = [tuple(r["embedding"]) for r in rows]
        assert len(set(embs)) == len(embs), sf  # (a)
        m = np.array(embs, dtype=np.float64)
        acc = np.zeros((m.shape[0], LSH_BANDS * LSH_BITS))
        for k in range(m.shape[1]):
            acc += m[:, k : k + 1] * planes[k]
        sign = acc >= 0
        from collections import Counter

        c: Counter = Counter()
        for b in range(LSH_BANDS):
            key = np.zeros(m.shape[0], dtype=np.int64)
            for j in range(LSH_BITS):
                key = (key << 1) | sign[:, b * LSH_BITS + j]
            for k in (b << LSH_BITS) | key:
                c[int(k)] += 1
        assert max(c.values()) <= LSH_BUCKET_CAP // 2, (sf, max(c.values()))


def test_cc_gate_forced_distributed_parity(spark, monkeypatch):
    """Forcing the shared components gate (CC_DRIVER_MAX_PAIRS) to 0
    sends e2e / softdedup / cluster down the distributed hash-to-min
    tier — rows must be IDENTICAL to the driver tier (the over-gate
    regime, unreachable at any shipped SF)."""
    from local_etl_spark.queries import _util

    sf = "/root/testdata/sf0.001"
    for name in ("llm_dedup_cluster", "llm_dedup_e2e", "llm_softdedup"):
        fn = get(name).fn
        base = sorted(map(tuple, fn(spark, sf).collect()))
        monkeypatch.setattr(_util, "CC_DRIVER_MAX_PAIRS", 0)
        got = sorted(map(tuple, fn(spark, sf).collect()))
        monkeypatch.undo()
        assert got == base, name
