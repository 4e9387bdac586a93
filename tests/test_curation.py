"""Curation operators: decontamination, repetition stats, PII scrub,
mixture sampling — each pinned against a pure-Python brute-force twin
on a small synthetic corpus (the DuckDB twin runs in the driver
contract)."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from search_engine_spark.pipeline import curation


DOCS = [
    # (doc_id, text, source)
    (0, "the quick brown fox jumps over the lazy dog", "web"),
    (1, "spark shuffle partitions tune spark shuffle partitions tune", "web"),
    (2, "one two", "web"),  # too short for 3-grams
    (3, "the quick brown fox returns again tonight", "code"),
    (4, "alpha beta gamma delta epsilon zeta", "code"),
    (5, "alpha beta alpha beta alpha beta alpha beta", "code"),
    (6, "totally unrelated content about databases", "books"),
    (7, "", "books"),  # empty
    (8, "loop loop loop loop loop loop", "books"),
    (9, "the lazy dog sleeps while the quick fox works", "books"),
]

EVAL = [
    (100, "the quick brown fox is a benchmark sentence"),
    (101, "alpha beta gamma is another eval prompt"),
]


def py_shingles(text: str, n: int) -> set[str]:
    toks = [t for t in text.lower().strip().split() if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string")


@pytest.fixture(scope="module")
def eval_df(spark):
    return spark.createDataFrame(EVAL, "doc_id long, text string")


def test_decontamination_stats(spark, docs_df, eval_df):
    n = 3
    ev = set().union(*(py_shingles(t, n) for _i, t in EVAL))
    got = {
        r["doc_id"]: r
        for r in curation.decontamination_stats(
            docs_df, curation.eval_shingles(eval_df, n), n
        ).collect()
    }
    assert set(got) == {d[0] for d in DOCS}
    for doc_id, text, _src in DOCS:
        sh = py_shingles(text, n)
        hits = len(sh & ev)
        r = got[doc_id]
        assert r["n_shingles"] == len(sh)
        assert r["n_hits"] == hits
        assert r["contaminated"] == (hits > 0)
        want = round(hits / len(sh) + 1e-9, 6) if sh else 0.0
        assert r["hit_frac"] == pytest.approx(want)
    # sanity: the planted overlaps actually fire (and misses stay clean)
    assert got[0]["contaminated"] and got[3]["contaminated"] and got[4]["contaminated"]
    assert not got[6]["contaminated"] and not got[5]["contaminated"]


def test_decontaminate_drops_flagged(spark, docs_df, eval_df):
    ev = curation.eval_shingles(eval_df, 3)
    stats = curation.decontamination_stats(docs_df, ev, 3).collect()
    flagged = {r["doc_id"] for r in stats if r["n_hits"] >= 1}
    clean = curation.decontaminate(docs_df, ev, 3).collect()
    assert {r["doc_id"] for r in clean} == {d[0] for d in DOCS} - flagged
    # surviving rows keep the full schema
    assert set(clean[0].asDict()) == {"doc_id", "text", "source"}


def test_repetition_stats(spark, docs_df):
    n = 2
    got = {r["doc_id"]: r for r in curation.repetition_stats(docs_df, n).collect()}
    for doc_id, text, _src in DOCS:
        toks = [t for t in text.lower().strip().split() if t]
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        c = Counter(grams)
        r = got[doc_id]
        assert r["n_tokens"] == len(toks)
        if toks:
            assert r["distinct_frac"] == pytest.approx(
                round(len(set(toks)) / len(toks) + 1e-9, 6)
            )
        else:
            assert r["distinct_frac"] == 0.0
        if grams:
            assert r["top_gram_frac"] == pytest.approx(
                round(max(c.values()) / len(grams) + 1e-9, 6)
            )
            dup = sum(v for v in c.values() if v >= 2)
            assert r["dup_gram_frac"] == pytest.approx(
                round(dup / len(grams) + 1e-9, 6)
            )
        else:
            assert r["top_gram_frac"] == 0.0 and r["dup_gram_frac"] == 0.0
    # the pathological repeater maxes out, the varied doc stays low
    assert got[8]["dup_gram_frac"] == 1.0
    assert got[4]["dup_gram_frac"] == 0.0


PII_DOCS = [
    (0, "mail me at alice.smith+x@corp.example.com or bob@ex.io today"),
    (1, "server 10.0.254.3 and backup 192.168.1.17 are down"),
    (2, "order 12345678 ref 004412345678901 ok"),
    (3, "mixed: eve99@a.bc from 8.8.8.8 card 4111111111111111"),
    (4, "nothing sensitive here 123 1.2 v1.2.3"),
    (5, ""),
]


def test_pii_scrub(spark):
    df = spark.createDataFrame(PII_DOCS, "doc_id long, text string")
    got = {r["doc_id"]: r for r in curation.pii_scrub(df).collect()}
    for doc_id, text in PII_DOCS:
        cur = text
        want_counts = {}
        for name, pat, repl in curation.PII_PATTERNS:
            want_counts[name] = len(re.findall(pat, cur))
            cur = re.sub(pat, repl, cur)
        r = got[doc_id]
        assert r["clean_text"] == cur, (doc_id, r["clean_text"], cur)
        for name in want_counts:
            assert r[f"n_{name}"] == want_counts[name], (doc_id, name)
    assert got[0]["n_email"] == 2 and "<EMAIL>" in got[0]["clean_text"]
    assert got[1]["n_ip"] == 2
    assert got[3]["n_email"] == 1 and got[3]["n_ip"] == 1 and got[3]["n_longnum"] == 1
    # short numbers and dotted versions survive
    assert got[4]["clean_text"] == PII_DOCS[4][1]


def test_mixture_targets_math():
    counts = {"web": 100, "code": 30, "books": 10}
    parts = {"web": 6, "code": 3, "books": 1}
    t = curation.mixture_targets(counts, parts)
    # T = min(100*10//6=166, 30*10//3=100, 10*10//1=100) = 100
    assert t == {"web": 60, "code": 30, "books": 10}
    # no upsampling ever
    assert all(t[s] <= counts[s] for s in t)
    with pytest.raises(ValueError):
        curation.mixture_targets({"web": 5}, {"web": 1, "code": 1})
    with pytest.raises(ValueError):
        curation.mixture_targets({"web": 5}, {"web": 0})


def test_pack_mapping(spark, docs_df):
    L = 7
    got = {r["doc_id"]: r for r in curation.pack_mapping(docs_df, L).collect()}
    # brute force: concat in doc_id order, chop into L-token windows
    cum = 0
    for doc_id, text, _src in sorted(DOCS):
        toks = [t for t in text.lower().strip().split() if t]
        r = got[doc_id]
        assert r["n_tokens"] == len(toks)
        assert r["tok_start"] == cum
        if toks:
            assert r["seq_first"] == cum // L
            assert r["seq_last"] == (cum + len(toks) - 1) // L
            assert r["seq_offset"] == cum % L
        else:
            assert r["seq_first"] is None and r["seq_last"] is None
            assert r["seq_offset"] is None
        cum += len(toks)
    # layout is stable under repartitioning (the two-level prefix sum
    # must not depend on physical layout)
    again = {
        r["doc_id"]: r["tok_start"]
        for r in curation.pack_mapping(docs_df.repartition(5), L).collect()
    }
    assert again == {d: r["tok_start"] for d, r in got.items()}
    with pytest.raises(ValueError):
        curation.pack_mapping(docs_df, 0)


TURNS = [
    # (conv_id, turn_idx, role, text)
    (0, 0, "system", "you are helpful"),
    (0, 1, "user", "what is spark shuffle"),
    (0, 2, "assistant", "a shuffle moves rows between partitions by key"),
    (1, 0, "user", "hello"),
    (1, 1, "assistant", ""),  # empty assistant turn
    (1, 2, "user", "anyone there"),
    (1, 3, "assistant", "yes how can i help"),
    (2, 0, "tool", "result 42"),
    (2, 1, "assistant", "the answer is 42"),
]


def test_sft_pack(spark):
    L = 5
    tdf = spark.createDataFrame(
        TURNS, "conv_id long, turn_idx long, role string, text string"
    )
    got = {
        (r["conv_id"], r["turn_idx"]): r
        for r in curation.sft_pack(tdf, L).collect()
    }
    # brute force: concat convs in conv_id order, turns in turn_idx order
    cum = 0
    for conv_id, turn_idx, role, text in sorted(TURNS):
        toks = [t for t in text.lower().strip().split() if t]
        r = got[(conv_id, turn_idx)]
        assert r["role"] == role
        assert r["n_tokens"] == len(toks)
        assert r["tok_start"] == cum
        assert r["loss_mask"] == (role == "assistant")
        if toks:
            assert r["seq_first"] == cum // L
            assert r["seq_last"] == (cum + len(toks) - 1) // L
            assert r["seq_offset"] == cum % L
        else:
            assert r["seq_first"] is None and r["seq_last"] is None
        cum += len(toks)
    assert len(got) == len(TURNS)
    # a conversation's turns are token-contiguous (no interleaving)
    by_conv = {}
    for (c, t), r in got.items():
        by_conv.setdefault(c, []).append((t, r["tok_start"], r["n_tokens"]))
    for c, rows in by_conv.items():
        rows.sort()
        for (t0, s0, n0), (t1, s1, _n1) in zip(rows, rows[1:]):
            assert s1 == s0 + n0
    # custom mask roles
    got2 = curation.sft_pack(tdf, L, mask_roles=("assistant", "tool")).collect()
    assert all(r["loss_mask"] == (r["role"] in ("assistant", "tool")) for r in got2)
    with pytest.raises(ValueError):
        curation.sft_pack(tdf, 0)


def test_pack_offsets_identical_across_shuffle_partitions_and_aqe(spark):
    """The two-level prefix sum behind the pack_sequences and
    sft_pack_spans contract entries gives the same rows whatever the
    shuffle-partition count and whether AQE is on: the range partitions
    are pinned before the totals collect, so the totals job and the
    window job see one (row → partition) assignment."""
    import random

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "spark", "shuffle"]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choices(words, k=rng.randint(0, 30)))) for i in range(3000)],
        "doc_id long, text string",
    )
    turns = docs.selectExpr(
        "doc_id div 4 AS conv_id", "doc_id % 4 AS turn_idx",
        "CASE doc_id % 4 WHEN 2 THEN 'assistant' ELSE 'user' END AS role", "text",
    )
    conf = spark.conf
    saved = {k: conf.get(k) for k in ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")}
    runs = []
    try:
        for parts, aqe in ((7, "true"), (200, "true"), (7, "false"), (200, "false")):
            conf.set("spark.sql.shuffle.partitions", str(parts))
            conf.set("spark.sql.adaptive.enabled", aqe)
            runs.append((
                sorted(tuple(r) for r in curation.pack_mapping(docs, 512).collect()),
                sorted(tuple(r) for r in curation.sft_pack(turns, 64).collect()),
            ))
    finally:
        for k, v in saved.items():
            conf.set(k, v)
    assert all(r == runs[0] for r in runs[1:])
    cum = 0
    for _doc, n, tok_start, *_ in runs[0][0]:
        assert tok_start == cum
        cum += n


def test_chunk_documents(spark, docs_df):
    CK, OV = 4, 1
    stride = CK - OV
    got = {}
    for r in curation.chunk_documents(docs_df, CK, OV).collect():
        got.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r
    for doc_id, text, _src in DOCS:
        toks = [t for t in text.lower().strip().split() if t]
        if not toks:
            assert doc_id not in got
            continue
        exp_chunks = []
        i = 0
        while True:
            exp_chunks.append(toks[i : i + CK])
            if i + CK >= len(toks):
                break
            i += stride
        chunks = got[doc_id]
        assert len(chunks) == len(exp_chunks)
        for ci, exp in enumerate(exp_chunks):
            r = chunks[ci]
            assert r["n_chunks"] == len(exp_chunks)
            assert r["chunk_tokens"] == len(exp)
            assert r["chunk_text"] == " ".join(exp)
    # every token position is covered; consecutive chunks overlap by OV
    # (except a possibly-shorter last chunk)
    with pytest.raises(ValueError):
        curation.chunk_documents(docs_df, 0)
    with pytest.raises(ValueError):
        curation.chunk_documents(docs_df, 4, 4)


def test_mixture_sample_exact_and_deterministic(spark, docs_df):
    parts = {"web": 2, "code": 1, "books": 1}
    out = curation.mixture_sample(docs_df, parts)
    rows = out.collect()
    by_src = Counter(r["source"] for r in rows)
    # counts: web 3, code 3, books 4 → T = min(3*4//2=6, 3*4//1=12, 4*4//1=16) = 6
    assert by_src == {"web": 3, "code": 1, "books": 1}
    # deterministic under repartitioning
    again = sorted(
        r["doc_id"] for r in curation.mixture_sample(docs_df.repartition(7), parts).collect()
    )
    assert again == sorted(r["doc_id"] for r in rows)
    # full schema preserved
    assert set(rows[0].asDict()) == {"doc_id", "text", "source"}


def _py_span_stats(rows, n):
    """Brute-force twin of span_dedup_stats."""
    toks = {d: [t for t in txt.lower().strip().split() if t] for d, txt, _s in rows}
    occ = []  # (gram, doc, pos) in corpus order
    for d in sorted(toks):
        tk = toks[d]
        for p in range(len(tk) - n + 1):
            occ.append((" ".join(tk[p : p + n]), d, p))
    seen: dict[str, tuple] = {}
    dups: dict[int, list[int]] = {}
    for g, d, p in sorted(occ, key=lambda x: (x[1], x[2])):
        if g in seen:
            dups.setdefault(d, []).append(p)
        else:
            seen[g] = (d, p)
    out = {}
    for d in sorted(toks):
        tk = toks[d]
        ps = dups.get(d, [])
        covered = set()
        for p in ps:
            covered.update(range(p, p + n))
        nt = len(tk)
        out[d] = (
            nt,
            max(nt - n + 1, 0),
            len(ps),
            len(covered),
            round(len(covered) / nt, 6) if nt else 0.0,
        )
    return out


def test_span_dedup_stats(spark):
    n = 3
    rows = [
        # doc 0 is the original; doc 1 repeats a 4-token span of it
        (0, "alpha beta gamma delta epsilon", "web"),
        (1, "intro alpha beta gamma delta closing words", "web"),
        # doc 2 duplicates doc 0 ENTIRELY -> every position covered
        (2, "alpha beta gamma delta epsilon", "web"),
        # doc 3: within-doc repeat — second occurrence is the dup
        (3, "x y z pad x y z", "web"),
        (4, "too short", "web"),
        (5, "", "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_grams"], r["n_dup_spans"],
            r["n_dup_tokens"], r["dup_token_frac"],
        )
        for r in curation.span_dedup_stats(df, n).collect()
    }
    want = _py_span_stats(rows, n)
    assert got == want
    # spot-check the semantics the twin encodes
    assert got[0] == (5, 3, 0, 0, 0.0)          # originals untouched
    assert got[2] == (5, 3, 3, 5, 1.0)          # full duplicate fully covered
    assert got[4][2:] == (0, 0, 0.0)            # shorter than n: no spans
    assert got[1][2] == 2                       # "alpha beta gamma", "beta gamma delta"
    assert got[1][3] == 4                       # positions 1..4 covered (merged)
    assert got[3][2] == 1 and got[3][3] == 3    # within-doc repeat


def test_span_dedup_first_wins_order(spark):
    """Corpus order (doc asc, pos asc) decides the original — swapping
    doc ids swaps which doc carries the duplicate."""
    n = 2
    for a, b in ((0, 1), (1, 0)):
        rows = [(a, "p q filler", "w"), (b, "other p q", "w")]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        got = {
            r["doc_id"]: r["n_dup_spans"]
            for r in curation.span_dedup_stats(df, n).collect()
        }
        assert got[min(a, b)] == 0 and got[max(a, b)] == 1


def test_span_dedup_scrub(spark):
    """Scrub removes exactly the covered positions of later copies and
    rebuilds the normalized stream in position order."""
    n = 3
    rows = [
        (0, "alpha beta gamma delta epsilon", "web"),
        (1, "intro alpha beta gamma delta closing words", "web"),
        (2, "alpha beta gamma delta epsilon", "web"),   # full duplicate
        (3, "x y z pad x y z", "web"),                  # within-doc repeat
        (4, "too short", "web"),
        (5, "", "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text"])
        for r in curation.span_dedup_scrub(df, n).collect()
    }
    assert got[0] == (5, 0, "alpha beta gamma delta epsilon")  # original intact
    assert got[2] == (5, 5, "")                                # full dup emptied
    # doc 1: dup grams at positions 1,2 cover tokens 1..4
    assert got[1] == (7, 4, "intro closing words")
    # doc 3: second "x y z" (positions 4..6) cut
    assert got[3] == (7, 3, "x y z pad")
    assert got[4] == (2, 0, "too short")                       # below n: untouched
    assert got[5] == (0, 0, "")
    # removal counts agree with the stats op's covered-token counts
    stats = {
        r["doc_id"]: r["n_dup_tokens"]
        for r in curation.span_dedup_stats(df, n).collect()
    }
    assert {d: v[1] for d, v in got.items()} == stats
