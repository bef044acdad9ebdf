"""Merges-driven BPE apply (VERDICT r04 #2): greedy lowest-rank
encoding from a supplied merges table, cross-checked against an
INDEPENDENT reference implementation (apply-merges-in-order — the
equivalent formulation for well-formed tables), plus the integration
seams: chunking over BPE pieces, vocabulary over BPE pieces, shard
packing budgeted in BPE token counts."""

import pyspark.sql.functions as F
import pytest

from anomalydetection_spark.functions.sampling import packed_shards
from anomalydetection_spark.functions.text import (
    bpe_tokens,
    chunk_documents,
    vocabulary,
)

# The classic BPE paper example family (Sennrich et al. 2016 §3:
# low/lower/newest/widest), extended so every merge side is a base char
# or an earlier merge's result (well-formed, as training always yields).
MERGES = [
    ("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"),
    ("n", "e"), ("ne", "w"), ("new", "est"),
    ("w", "i"), ("wi", "d"), ("wid", "est"),
]


def ref_apply_in_order(word: str, merges) -> list[str]:
    """Independent reference: one left-to-right non-overlapping pass per
    merge, in table order — NOT the kernel's greedy lowest-rank loop."""
    syms = list(word)
    for a, b in merges:
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_tokens_match_independent_reference(spark):
    rows = [
        ("d0", "low lower newest widest"),
        ("d1", "lowest wider new widows"),
        ("d2", "the unseen tokens stay characters"),
        ("d3", None),
        ("d4", ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: (list(r["bpe_tokens"]), r["n_bpe_tokens"])
        for r in bpe_tokens(docs, MERGES, pre_split="whitespace").collect()
    }
    for doc_id, text in rows:
        want: list = []
        for w in (text or "").split(" "):
            if w:
                want.extend(ref_apply_in_order(w, MERGES))
        assert got[doc_id] == (want, len(want)), doc_id
    # spot-check the canonical example end-to-end ((e,r) is NOT a
    # merge, so 'lower' stays low·e·r)
    assert got["d0"][0] == ["low", "low", "e", "r", "newest", "widest"]


def test_bpe_greedy_order_is_rank_not_position(spark):
    """The greedy loop must pick the LOWEST-RANK pair anywhere in the
    word, not the leftmost mergeable pair: in 'wnes' with ranks
    (e,s)=0 < (n,e)=4, the (e,s) merge must win even though (n,e)
    appears first; (n,es) is not a merge so the result keeps them
    separate."""
    docs = spark.createDataFrame([("d0", "wnes")], "doc_id string, text string")
    out = bpe_tokens(docs, MERGES, pre_split="whitespace").first()
    assert list(out["bpe_tokens"]) == ["w", "n", "es"]


def test_bpe_rejects_malformed_merges_before_any_job(spark):
    """A merge side that is neither one character nor an earlier merge's
    result breaks the greedy == in-order equivalence the oracle relies
    on: the table is refused while planning, before any job runs."""
    sc = spark.sparkContext
    docs = spark.createDataFrame([("d0", "lowest")], "doc_id string, text string")
    bad_tables = [
        [("l", "o"), ("low", "e")],           # 'low' is never produced
        [("es", "t"), ("e", "s")],            # 'es' produced only later
        [("l", "o"), ("", "w")],              # empty side
    ]
    sc.setJobGroup("bpe_bad_merges", "malformed merges job count")
    try:
        for merges in bad_tables:
            with pytest.raises(ValueError, match="neither a single character"):
                bpe_tokens(docs, merges, pre_split="whitespace")
    finally:
        sc.setJobGroup(None, None)
    jobs = sc._jsc.sc().statusTracker().getJobIdsForGroup("bpe_bad_merges")
    assert len(jobs) == 0


def test_bpe_vocab_ids_and_unk(spark):
    vocab = {"low": 0, "newest": 2, "e": 3}
    docs = spark.createDataFrame(
        [("d0", "lower newest zap")], "doc_id string, text string")
    out = bpe_tokens(docs, MERGES, pre_split="whitespace",
                     vocab=vocab, unk_id=-1).first()
    toks = list(out["bpe_tokens"])
    assert toks == ["low", "e", "r", "newest", "z", "a", "p"]
    ids = list(out["bpe_ids"])
    assert ids == [0, 3, -1, 2, -1, -1, -1]
    assert out["n_unk"] == 4


def test_bpe_pre_split_regex_and_map_only_plan(spark):
    docs = spark.createDataFrame(
        [("d0", "Hello, world 42")], "doc_id string, text string")
    out = bpe_tokens(docs, [("l", "l"), ("o", "r")], pre_split="bpe_ish")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "Exchange" not in plan
    r = out.first()
    # pre-tokens keep their leading space (GPT-2 shape); 'll' merged
    assert "ll" in list(r["bpe_tokens"])
    assert r["n_bpe_tokens"] == len(list(r["bpe_tokens"]))


def test_chunking_and_vocabulary_accept_bpe_pieces(spark):
    docs = spark.createDataFrame(
        [("d0", "newest newest lower"), ("d1", "widest low")],
        "doc_id string, text string")
    enc = bpe_tokens(docs, MERGES, pre_split="whitespace")
    chunks = chunk_documents(enc, max_tokens=2, tokens_col="bpe_tokens",
                             joiner=" ")
    got = {(r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk"])
           for r in chunks.collect()}
    # d0 pieces: newest newest low e r -> 2-token windows + a 1-tail
    assert got[("d0", 0)] == (2, "newest newest")
    assert got[("d0", 1)] == (2, "low e")
    assert got[("d0", 2)] == (1, "r")
    # chunk token counts sum to the doc's n_bpe_tokens
    n = {r["doc_id"]: r["n_bpe_tokens"] for r in enc.collect()}
    for d in ("d0", "d1"):
        assert sum(v[0] for (doc, _), v in got.items() if doc == d) == n[d]

    vocab = vocabulary(enc, top_v=3, tokens_col="bpe_tokens")
    top = [(r["token"], r["n_total"]) for r in vocab.collect()]
    # n_total ties (low=2, newest=2) break token-ASC
    assert top[:2] == [("low", 2), ("newest", 2)]


def test_packed_shards_budget_in_bpe_tokens(spark):
    docs = spark.createDataFrame(
        [(i, "newest " * (i + 1)) for i in range(6)],
        "doc_id long, text string")
    enc = bpe_tokens(docs, MERGES, pre_split="whitespace")
    packed = packed_shards(enc, budget=5, weight_col="n_bpe_tokens",
                           id_col="doc_id")
    rows = sorted(packed.collect(), key=lambda r: r["doc_id"])
    # doc i has i+1 'newest' pieces -> weights 1..6, exact prefix sums
    cum = 0
    for i, r in enumerate(rows):
        assert r["weight"] == i + 1
        assert r["cum_before"] == cum
        assert r["shard"] == cum // 5
        cum += i + 1


def test_line_dedup_semantics_and_pipeline_composition(spark):
    """line_dedup drops normalized lines shared by >= min_docs distinct
    docs, keeps per-doc order, and composes upstream of the clean-corpus
    pipeline (the C4-style pre-filter position): the composed output's
    texts carry no boilerplate line."""
    from anomalydetection_spark.functions.text import line_dedup

    rows = [
        (0, "COOKIE notice\nalpha beta\ncookie  notice"),  # norm-dup line
        (1, "cookie notice\ngamma delta"),
        (2, "unique one\nunique two"),
        (3, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(docs, min_docs=2).collect()}
    # 'COOKIE notice' / 'cookie  notice' / 'cookie notice' all normalize
    # alike and appear in docs 0 and 1 -> dropped everywhere
    assert out[0]["n_lines"] == 3 and out[0]["n_dropped"] == 2
    assert out[0]["text_clean"] == "alpha beta"
    assert out[1]["n_lines"] == 2 and out[1]["n_dropped"] == 1
    assert out[1]["text_clean"] == "gamma delta"
    assert out[2]["n_dropped"] == 0
    assert out[2]["text_clean"] == "unique one\nunique two"
    assert 3 not in out  # NULL text dropped

    # composition: feed cleaned text into a quality filter + dedup stage
    # (the pipeline_clean_corpus shape) — no boilerplate survives
    cleaned = line_dedup(docs, min_docs=2).select(
        "doc_id", F.col("text_clean").alias("text"))
    survivors = cleaned.filter(F.col("text") != "")
    assert not [
        r for r in survivors.collect() if "cookie" in r["text"].lower()
    ]


def test_line_dedup_all_lines_dropped_yields_empty_text(spark):
    from anomalydetection_spark.functions.text import line_dedup

    docs = spark.createDataFrame(
        [(0, "same line"), (1, "same line"), (2, "same  LINE")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(docs, min_docs=2).collect()}
    for i in range(3):
        assert out[i]["text_clean"] == "" and out[i]["n_dropped"] == 1


def test_line_dedup_blank_lines_are_structural_not_boilerplate(spark):
    """Blank / whitespace-only lines are paragraph separators: shared by
    every multi-paragraph document, so the >= min_docs vote must exempt
    them or it deletes corpus-wide paragraph structure."""
    from anomalydetection_spark.functions.text import line_dedup

    docs = spark.createDataFrame(
        [(0, "para one\n\npara two"), (1, "other one\n \nother two")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(docs, min_docs=2).collect()}
    assert out[0]["n_dropped"] == 0
    assert out[0]["text_clean"] == "para one\n\npara two"
    assert out[1]["n_dropped"] == 0
    # the whitespace-only separator survives VERBATIM (' '), not norm'd
    assert out[1]["text_clean"] == "other one\n \nother two"


def test_url_normalize_registrable_domain_and_blocklist(spark):
    from anomalydetection_spark.functions.web import (
        domain_blocklist_filter,
        host_of,
        registrable_domain,
        url_normalize,
    )

    rows = [
        (0, "HTTPS://WWW.Example3.COM:443/Docs/A?utm_source=f&q=1#frag",
         "https://www.example3.com/Docs/A?q=1", "example3.com"),
        (1, "http://CDN.Assets.Example.CO.UK:80/p/?utm_a=1",
         "http://cdn.assets.example.co.uk/p", "example.co.uk"),
        (2, "https://example.com/x?utm_b=2&utm_c=3&id=9",
         "https://example.com/x?id=9", "example.com"),
        (3, "https://sub.weird.internaltld/path",
         "https://sub.weird.internaltld/path", "weird.internaltld"),
        (4, "https://example2.com:8443/keepport?",
         "https://example2.com:8443/keepport", "example2.com"),
        (5, "https://localhost/x", "https://localhost/x", "localhost"),
        # literal '&' in a query-less path (legal, RFC 3986): must NOT be
        # promoted to '?' — promotion only rides an actual leading-utm
        # removal
        (6, "https://example.com/a&b", "https://example.com/a&b",
         "example.com"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _, _ in rows], "doc_id long, url string")
    out = {
        r["doc_id"]: (r["u"], r["d"])
        for r in df.select(
            "doc_id", url_normalize("url").alias("u"),
            registrable_domain(host_of(url_normalize("url"))).alias("d"),
        ).collect()
    }
    for i, _, want_u, want_d in rows:
        assert out[i] == (want_u, want_d), i
    # broadcast anti-join drops blocklisted registrable domains
    bl = spark.createDataFrame([("example2.com",)], "domain string")
    dom = df.select(
        "doc_id",
        registrable_domain(host_of(url_normalize("url"))).alias("domain"))
    kept = sorted(r["doc_id"]
                  for r in domain_blocklist_filter(dom, bl).collect())
    assert kept == [0, 1, 2, 3, 5, 6]
    plan = domain_blocklist_filter(dom, bl) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
