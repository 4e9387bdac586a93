"""LSM read path: query a base index plus delta segments as ONE index.

``extend_index`` (extend.py) absorbs a delta by rewriting the merged
posting blocks — O(index bytes) per delta.  At 10^12 turns the index
bytes themselves are tens of TB, so per-delta rewrites are the wrong
steady state.  ``MultiIndex`` completes the LSM picture the way Lucene
segments do (public design; also the shape of the reference's freshness
story, where ``IndexerService.java:57-68`` upserts rows without ever
rebuilding the table):

  * ingest  — each delta becomes its OWN small index via a plain
    ``build_index`` over just the delta (O(delta) work, no old bytes
    touched; conversations/turns must be disjoint from other segments),
  * query   — ``MultiIndex([base, d1, d2, ...])`` answers with global
    BM25 statistics: N = Σ n_docs, avgdl = Σ dl / N, df(t) = Σ df_i(t)
    (segments hold disjoint documents, so document frequencies add),
    all exact, so results match a from-scratch build of the union
    byte-for-byte (pinned by tests),
  * compact — ``extend_index`` folds accumulated deltas back into one
    root when the segment count grows; queries regain the single-index
    fast path (WAND, exact-cut kernels).

Physical plan per query.  Driver-local branch (``topk``, ``topk_batch``,
``match_count``, ``idf_map``/``df_map``): when the query is unscoped and
its pruned postings bucket files, summed over ALL segments, total at
most ``reader.LOCAL_BUDGET_BYTES``, the single reader's local executor
runs over the (seg, CompressedIndex) pairs — each segment's files read
with pyarrow, each (seg, group) handed to ``_with_seg(kernel)``, the
candidates labelled from their own segment's convs files, then sorted
on (score desc, conv_id, turn_idx) and cut at k — with zero Spark jobs.
idf sums the locally read per-segment df, and the shadow df correction
decodes the locally read postings of the shadowed groups.  Opening a
``MultiIndex`` launches no job either: N/Σdl come from the per-segment
``doclen`` tables and ``shadows`` sidecars read with pyarrow.

Spark plan (over-budget or scoped queries): each segment's bucket-pruned postings scan is
unioned with a ``seg`` literal; ONE grouped kernel pass scores every
(seg, group) partition against the broadcast global idf/avgdl (format
v5 blocks carry per-posting doclens inline, so no segment-local state
is needed); candidates map back to conversations through their own
segment's convs table (doc ids are segment-local ranks); a global
``ORDER BY score, conv_id, turn_idx LIMIT k`` merges segments.  The
kernels always run ``with_ties=True`` here — doc-id order means nothing
ACROSS segments, so boundary score-ties must surface for the global
sort to resolve (WAND's bounded heap cannot hold ties, which is one
more reason compaction exists).
"""

from __future__ import annotations

from functools import cached_property, reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .codec import varbyte_decode
from .reader import (
    BATCH_RESULT_SCHEMA,
    BATCH_TOPK_SCHEMA,
    RESULT_SCHEMA,
    TOPK_SCHEMA,
    CompressedIndex,
    Tombstones,
    _batch_local,
    _batch_term_sets,
    _fetch_terms,
    _local_groups,
    _make_batch_kernel,
    _make_group_kernel,
    _parse_batch,
    _pruned_files,
    _rank_per_query,
    _read_local,
    _read_table,
    _topk_frame,
    _topk_local,
    _weighted_idf,
    _with_seg,
    parse_query,
)


def _with_seg_scoped(inner):
    """Cogroup counterpart of :func:`reader._with_seg` for scoped
    kernels — (key, postings, allow) with the (seg, group) composite
    key."""

    def kernel(key: tuple, pdf: pd.DataFrame, allow_pdf: pd.DataFrame) -> pd.DataFrame:
        out = inner(key[1:], pdf, allow_pdf)
        out.insert(0, "seg", np.full(len(out), key[0], dtype="int32"))
        return out

    return kernel


def _column_sums(table_dir: str, columns: list[str]) -> list[int]:
    """Exact integer sums of ``columns`` over a small local parquet table
    (0 for an absent or empty one), read with pyarrow on the driver."""
    t = _read_table(table_dir, columns)
    if t is None:
        return [0] * len(columns)
    return [sum(v for v in t.column(c).to_pylist() if v is not None) for c in columns]


def _shadow_hits(pdf: pd.DataFrame, ids: np.ndarray) -> pd.DataFrame:
    """Postings rows (term, doc_blob) → (term, c): per row, how many of
    the sorted shadowed doc ``ids`` its block holds."""
    ts, cs = [], []
    for term, blob in zip(pdf["term"], pdf["doc_blob"]):
        docs = np.cumsum(varbyte_decode(blob).astype(np.int64))
        j = np.searchsorted(ids, docs)
        hit = (j < ids.size) & (ids[np.minimum(j, ids.size - 1)] == docs)
        ts.append(term)
        cs.append(int(hit.sum()))
    return pd.DataFrame({"term": ts, "c": cs})


class MultiIndex:
    """Read-only view over several index segments, later segments win.

    Pass ``roots`` in chronological order (oldest first).  Effective
    documents must be disjoint: a (conv_id, turn_idx) may appear in
    several segments ONLY when every earlier occurrence is named by a
    later segment's SHADOW sidecar (``ingest_update_segment`` writes it;
    plain ``build_index`` segments must stay disjoint — ``extend_index``
    still enforces that on compaction).  Shadowed docs are excluded at
    candidate time like tombstones, and the global statistics are
    corrected EXACTLY (not the usual LSM approximation):

    * N and Σdl subtract the sidecars' ``n_prev``/``dl_prev`` totals —
      each superseded live occurrence is counted by exactly one sidecar;
    * per-term df subtracts the number of shadowed docs whose posting
      lists contain the term, counted from the shadowed docs' own
      blocks at query time (bucket- and group-pruned, memoized per
      term in the idf cache).

    Results therefore equal a fresh build of the updated corpus
    byte-for-byte (pinned by tests).

    Layout invariants (format v5, conv_rank scheme, turn_bits,
    num_buckets) must match across segments; num_groups may differ
    (groups are per-segment parallelism units, never joined across
    segments).
    """

    def __init__(self, spark: SparkSession, roots: list[str]):
        if not roots:
            raise ValueError("MultiIndex needs at least one segment root")
        self.spark = spark
        self.segments = [CompressedIndex(spark, r) for r in roots]
        s0 = self.segments[0]
        for seg in self.segments:
            if seg.scheme != "conv_rank":
                raise ValueError(
                    f"MultiIndex segment {seg.paths.root} uses doc-id scheme "
                    f"{seg.scheme!r}; segments must be conv_rank batch builds"
                )
            if int(seg.turn_bits) != int(s0.turn_bits):
                raise ValueError("MultiIndex segments disagree on turn_bits")
            if int(seg.num_buckets) != int(s0.num_buckets):
                raise ValueError("MultiIndex segments disagree on num_buckets")
        self.turn_bits = int(s0.turn_bits)
        self.num_buckets = int(s0.num_buckets)
        # exact global stats from the per-group doclen tables (G rows per
        # segment, read with pyarrow — no Spark job); summing the integer
        # totals reproduces the single-index avgdl bit-for-bit
        n_all = tok_all = 0
        for seg in self.segments:
            n, tok = _column_sums(seg.paths.doclen, ["n_docs", "sum_dl"])
            n_all, tok_all = n_all + n, tok_all + tok
        # shadow sidecars (update segments): keys a later segment
        # supersedes in earlier ones — applied as per-segment exclusion
        # sets, with exact N/Σdl corrections from the sidecar totals
        from .extend import read_shadow_keys, shadows_path

        self._shadow_keys = [read_shadow_keys(spark, r) for r in roots]
        self._shadow_for: list[list[tuple[str, int]]] = []
        for i in range(len(roots)):
            s: set[tuple[str, int]] = set()
            for j in range(i + 1, len(roots)):
                s.update(self._shadow_keys[j])
            self._shadow_for.append(sorted(s))
        self._shadow_resolved: dict[int, tuple] | None = None
        n_excl = dl_excl = 0
        for r in roots:
            n, dl = _column_sums(shadows_path(r), ["n_prev", "dl_prev"])
            n_excl, dl_excl = n_excl + n, dl_excl + dl
        self.n_docs = n_all - n_excl
        self.avgdl = (tok_all - dl_excl) / self.n_docs if self.n_docs else 0.0
        self._idf_cache: dict[str, float] = {}
        self._df_cache: dict[str, int] = {}

    # Spark-plan handles, built on first use (an open whose queries all
    # run on the driver never builds them)

    @cached_property
    def _df_all(self) -> DataFrame:
        # segments hold disjoint docs, so per-term document frequencies
        # ADD; idf is recomputed from the summed df at the global N
        return reduce(
            DataFrame.unionByName,
            [seg._idf.select("term", "df", "bucket") for seg in self.segments],
        )

    @cached_property
    def _convs(self) -> DataFrame:
        # conversation map: doc ids are segment-local conv ranks, so the
        # label join is on (seg, conv_rank); one conversation may appear
        # in several segments (new turns in a later delta) — each row
        # maps only its own segment's candidates
        return reduce(
            DataFrame.unionByName,
            [
                seg._convs.select("conv_id", "conv_rank").withColumn("seg", F.lit(i))
                for i, seg in enumerate(self.segments)
            ],
        ).cache()

    def warm(self) -> None:
        for seg in self.segments:
            seg.warm()

    # -- global statistics -------------------------------------------

    def _resolve_tomb(self, tombstones) -> dict | None:
        """Tombstone items → one resolved set per segment (doc ids are
        segment-local rank encodings); kernels pick their segment's set
        from the batch's ``seg`` column.  Each segment resolves and
        memoizes through :meth:`CompressedIndex._resolve_tomb` — a convs
        lookup on the driver within the local budget."""
        if not tombstones:
            return None
        return {i: seg._resolve_tomb(tombstones) for i, seg in enumerate(self.segments)}

    def _resolve_after(self, search_after) -> dict | None:
        """(score, conv_id, turn_idx) cursor → one (score, cursor_doc_id)
        per SEGMENT (doc ids are segment-local rank encodings).  Each
        segment resolves independently, memoized per distinct cursor, via
        :meth:`CompressedIndex._resolve_after` — a segment not holding
        the cursor conversation cuts through its boundary rank, so the
        filter stays exact even when the cursor doc lives elsewhere."""
        if search_after is None:
            return None
        return {i: seg._resolve_after(search_after) for i, seg in enumerate(self.segments)}

    def _shadow_exclude(self) -> dict | None:
        """Per-segment (Tombstones, affected-groups) for shadowed docs,
        resolved once per instance — sidecar lists are update-batch
        sized, so the rank lookup is one small convs lookup per segment
        (on the driver within the local budget)."""
        if not any(self._shadow_for):
            return None
        if self._shadow_resolved is None:
            d: dict[int, tuple] = {}
            for i, seg in enumerate(self.segments):
                items = self._shadow_for[i]
                if not items:
                    continue
                rank = seg._conv_lookup(sorted({c for c, _ in items}))
                ids, groups = [], set()
                for c, t in items:
                    if c in rank:
                        ids.append((rank[c][0] << self.turn_bits) | int(t))
                        groups.add(rank[c][1])
                if ids:
                    d[i] = (
                        Tombstones(
                            np.asarray(ids, dtype=np.int64),
                            np.empty(0, dtype=np.int64),
                        ),
                        sorted(groups),
                    )
            self._shadow_resolved = d
        return self._shadow_resolved or None

    def _effective_exclude(self, tombstones) -> dict | None:
        """User tombstones ∪ shadow supersession, per segment."""
        user = self._resolve_tomb(tombstones)
        sh = self._shadow_exclude()
        if sh is None:
            return user
        out: dict[int, Tombstones] = {}
        for i in range(len(self.segments)):
            u = user.get(i) if user else None
            s = sh.get(i, (None, None))[0]
            if u is not None and s is not None:
                out[i] = Tombstones(
                    np.concatenate([u.doc_ids, s.doc_ids]),
                    np.concatenate([u.conv_ranks, s.conv_ranks]),
                )
            elif s is not None:
                out[i] = s
            elif u is not None:
                out[i] = u
        return out

    def _shadow_df_counts(self, terms: list[str]) -> dict[str, int]:
        """For each term: how many SHADOWED docs contain it, summed over
        segments — the exact df correction.  One bucket+group-pruned
        scan of the shadowed docs' posting blocks per segment that has
        any (results land in the idf cache, so each term pays once); the
        blocks are read with pyarrow on the driver when their files fit
        the local budget, else by a Spark scan."""
        out = {t: 0 for t in terms}
        sh = self._shadow_exclude()
        if sh is None or not terms:
            return out
        segs = sorted(sh)
        files = _pruned_files([self.segments[i] for i in segs], "postings", terms)
        for n, i in enumerate(segs):
            tomb, groups = sh[i]
            ids = np.sort(tomb.doc_ids)
            if files is not None:
                if not files[n]:
                    continue
                post = _read_local(files[n], ["term", "doc_blob", "group"], "term", terms)
                rows = _shadow_hits(post[post["group"].isin(groups)], ids).groupby("term")["c"].sum().items()
            else:
                rows = (
                    self.segments[i].postings_df(terms)
                    .filter(F.col("group").isin(groups))
                    .select("term", "doc_blob")
                    .mapInPandas(lambda it, _ids=ids: (_shadow_hits(p, _ids) for p in it),
                                 schema="term string, c long")
                    .groupBy("term")
                    .agg(F.sum("c").alias("c"))
                    .collect()
                )
            for term, c in rows:
                out[term] += int(c)
        return out

    def idf_map(self, terms: list[str]) -> dict[str, float]:
        """Global idf: df summed across segments, the build formula
        ``ln((1+N)/(1+df)) + 1`` (IndexerService.java:966) applied at
        the global N.  Bucket-pruned on every segment's idf table; read
        with pyarrow on the driver when the idf files of all segments
        fit the local budget."""
        import math

        uniq = sorted(set(terms))
        if not uniq:
            return {}
        missing = [t for t in uniq if t not in self._idf_cache]
        if missing:
            files = _pruned_files(self.segments, "idf", missing)
            if files is None:
                buckets = self.segments[0]._buckets(missing)
                rows = (
                    self._df_all.filter(
                        F.col("bucket").isin(buckets) & F.col("term").isin(missing)
                    )
                    .groupBy("term")
                    .agg(F.sum("df").alias("df"))
                    .collect()
                )
            else:
                parts = [_read_local(fs, ["term", "df"], "term", missing) for fs in files if fs]
                rows = pd.concat(parts).groupby("term")["df"].sum().items() if parts else []
            found = {t: int(df) for t, df in rows}
            corr = self._shadow_df_counts(missing)
            for t in missing:
                df = found.get(t, 0) - corr.get(t, 0)
                self._df_cache[t] = df
                self._idf_cache[t] = (
                    math.log((1.0 + self.n_docs) / (1.0 + df)) + 1.0
                )
        return {t: self._idf_cache[t] for t in uniq}

    def df_map(self, terms: list[str]) -> dict[str, int]:
        """Per-term GLOBAL document frequency (segment dfs summed minus
        shadow-superseded copies — same scan and cache as
        :meth:`idf_map`); absent terms get df=0."""
        self.idf_map(terms)
        return {t: self._df_cache[t] for t in sorted(set(terms))}

    def _postings(self, terms: list[str]) -> DataFrame:
        return reduce(
            DataFrame.unionByName,
            [
                seg.postings_df(terms).withColumn("seg", F.lit(i))
                for i, seg in enumerate(self.segments)
            ],
        )

    def expand_prefixes(self, query_text: str, limit: int | None = None) -> str:
        """Prefix (trailing-``*``) rewrite over the UNION vocabulary:
        per-term df summed across segments orders the expansion (raw
        sums — shadow-superseded copies may inflate a tie-break, which
        only affects the cap boundary ordering, never scoring; scoring
        idf stays exact via :meth:`idf_map`)."""
        from .reader import PREFIX_CAP, rewrite_with_expansions, split_prefix_tokens

        if limit is None:
            limit = PREFIX_CAP
        toks, prefixes = split_prefix_tokens(query_text)
        if not prefixes:
            return query_text
        return rewrite_with_expansions(
            toks, self._prefix_expansions(prefixes, limit)
        )

    def _vocab_topdf(
        self, items: list[tuple[str, object]], limit: int
    ) -> dict[str, list[str]]:
        """Per-key top-df expansion over the UNION vocabulary: filtered
        union of segment idf tables → df summed per term → distributed
        TakeOrdered cap, so the driver receives at most ``limit`` rows
        per key.  ``items`` = (key, filter-builder) where the builder
        returns a boolean Column for one segment's idf frame."""
        parts = []
        for key, cond in items:
            summed = (
                reduce(
                    DataFrame.unionByName,
                    [
                        seg._idf.filter(cond).select("term", "df")
                        for seg in self.segments
                    ],
                )
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
            )
            parts.append(
                summed.orderBy(F.desc("df"), F.asc("term"))
                .limit(limit)
                .select(F.lit(key).alias("key"), "term", "df")
            )
        rows = reduce(DataFrame.unionByName, parts).collect()
        by_key: dict[str, list[tuple[int, str]]] = {}
        for r in rows:  # union row order is unspecified — re-rank driver-side
            by_key.setdefault(r["key"], []).append((int(r["df"]), r["term"]))
        return {
            p: [t for _df, t in sorted(hits, key=lambda x: (-x[0], x[1]))]
            for p, hits in by_key.items()
        }

    def _prefix_expansions(
        self, prefixes: list[str], limit: int
    ) -> dict[str, list[str]]:
        return self._vocab_topdf(
            [(p, F.col("term").startswith(p)) for p in prefixes], limit
        )

    def _wildcard_expansions(
        self, patterns: list[str], limit: int
    ) -> dict[str, list[str]]:
        """General-wildcard expansion over the union vocabulary (same
        LIKE + literal-prefix pushdown as the single-index reader; df
        summed across segments orders the cap)."""
        from ..oracle import wildcard_literal_prefix, wildcard_to_like

        items = []
        for p in patterns:
            cond = F.col("term").like(wildcard_to_like(p))
            lit = wildcard_literal_prefix(p)
            if lit:
                cond = F.col("term").startswith(lit) & cond
            items.append((p, cond))
        return self._vocab_topdf(items, limit)

    def _regexp_expansions(
        self, patterns: list[str], limit: int
    ) -> dict[str, list[str]]:
        import re as _re

        for p in patterns:
            try:
                _re.compile(p)
            except _re.error as e:
                raise ValueError(f"invalid regexp term /{p}/: {e}") from e
        return self._vocab_topdf(
            [(p, F.col("term").rlike(f"^(?:{p})$")) for p in patterns], limit
        )

    def expand_fuzzy(self, query_text: str, limit: int | None = None) -> str:
        """Fuzzy (trailing-``~``) rewrite over the UNION vocabulary:
        per-segment delete-1 collision candidates merged with df summed
        (raw sums, like :meth:`expand_prefixes`), then the shared
        verify+rank contract."""
        from ..oracle import (
            FUZZY_CAP,
            rank_fuzzy_candidates,
            rewrite_fuzzy,
            split_fuzzy_tokens,
        )

        if limit is None:
            limit = FUZZY_CAP
        toks, terms = split_fuzzy_tokens(query_text)
        if not terms:
            return query_text
        return rewrite_fuzzy(toks, self._fuzzy_expansions(terms, limit))

    def _fuzzy_rows(self, terms: list[str]) -> dict[str, list[tuple[str, int]]]:
        """Per-segment delete-1 collision candidates merged with df
        summed (raw sums, like :meth:`expand_prefixes`) — the MultiIndex
        face of ``CompressedIndex._fuzzy_rows``, so fuzzy expansion and
        did-you-mean (operators/didyoumean.py) share ONE merge contract."""
        merged: dict[str, dict[str, int]] = {t: {} for t in terms}
        for seg in self.segments:
            for t, lst in seg._fuzzy_rows(terms).items():
                acc = merged[t]
                for w, dfv in lst:
                    acc[w] = acc.get(w, 0) + dfv
        return {t: list(d.items()) for t, d in merged.items()}

    def _fuzzy_expansions(
        self, terms: list[str], limit: int
    ) -> dict[str, list[str]]:
        from ..oracle import rank_fuzzy_candidates

        cand = self._fuzzy_rows(terms)
        expansions: dict[str, list[str]] = {}
        for t in terms:
            exp = rank_fuzzy_candidates(t, cand.get(t, []), limit)
            if exp:
                expansions[t] = exp
        return expansions

    def _resolve_spec(self, spec):
        """Resolve a phrase-prefix marker (ES ``match_phrase_prefix``)
        over the UNION vocabulary — dfs summed across segments order the
        cap, like :meth:`expand_prefixes`; the resolved variants then
        run in every segment's kernel, so a variant present only in a
        newer segment still matches."""
        if spec is None or spec.phrase_prefix is None:
            return spec
        import dataclasses

        from .reader import PREFIX_CAP

        exp = self._prefix_expansions([spec.phrase_prefix], PREFIX_CAP).get(
            spec.phrase_prefix, []
        )
        return dataclasses.replace(
            spec,
            phrase_prefix=None,
            variants=exp,
            score_terms=sorted(set((spec.phrase_a or []) + exp)),
        )

    def expand_query(
        self,
        query_text: str,
        prefix_limit: int | None = None,
        fuzzy_limit: int | None = None,
    ) -> str | None:
        """One-pass executable rewrite over the union vocabulary — same
        contract as :meth:`CompressedIndex.expand_query` (fully analyzed
        output, execute with ``analyzed=True``)."""
        from ..oracle import (
            FUZZY_CAP,
            PREFIX_CAP,
            assemble_expanded,
            classify_expansion_tokens,
        )

        cls = classify_expansion_tokens(query_text)
        prefixes = sorted({v for kk, v in cls if kk == "prefix"})
        fuzzies = sorted({v for kk, v in cls if kk == "fuzzy"})
        wilds = sorted({v for kk, v in cls if kk == "wildcard"})
        rexps = sorted({v for kk, v in cls if kk == "regexp"})
        if not prefixes and not fuzzies and not wilds and not rexps:
            return None
        return assemble_expanded(
            cls,
            self._prefix_expansions(prefixes, prefix_limit or PREFIX_CAP)
            if prefixes else {},
            self._fuzzy_expansions(fuzzies, fuzzy_limit or FUZZY_CAP)
            if fuzzies else {},
            self._wildcard_expansions(wilds, prefix_limit or PREFIX_CAP)
            if wilds else {},
            self._regexp_expansions(rexps, prefix_limit or PREFIX_CAP)
            if rexps else {},
        )

    def expand_synonyms(
        self, query_text: str, mapping: dict | None = None,
        analyzed: bool = False,
    ) -> str:
        """Synonym splice over the segment set — the sidecar is a
        query-layer setting kept on the BASE segment (segment 0), so
        the single-index method serves unchanged; explicit ``mapping``
        overrides it (same contract as
        :meth:`CompressedIndex.expand_synonyms`)."""
        return self.segments[0].expand_synonyms(query_text, mapping, analyzed)

    def _label(self, cand: DataFrame, extra: tuple = ()) -> DataFrame:
        cols = [*extra, "conv_id", "turn_idx", "score"]
        return (
            cand.withColumn("conv_rank", F.shiftrightunsigned("doc_id", self.turn_bits))
            .withColumn(
                "turn_idx",
                F.col("doc_id").bitwiseAND(F.lit((1 << self.turn_bits) - 1)).cast("int"),
            )
            .join(self._convs, ["seg", "conv_rank"])
            .select(*cols)
        )

    # -- query -------------------------------------------------------

    def scope_docs(self, turns: DataFrame) -> DataFrame:
        """Resolve a metadata predicate's matching turns against EVERY
        segment → (seg, group, doc_id): doc ids are segment-local, so
        each segment resolves against its own convs table (one thin join
        per segment; compaction bounds the segment count).  A turn
        indexed in several segments (update shadows) resolves in each —
        the shadow exclusion already removes the superseded copy at
        kernel time, so scoped results stay update-consistent."""
        keys = turns.select("conv_id", "turn_idx")
        return reduce(
            DataFrame.unionByName,
            [
                seg.scope_docs(keys).withColumn("seg", F.lit(i))
                for i, seg in enumerate(self.segments)
            ],
        )

    def topk(
        self,
        query_text: str,
        mode: str = "disjunctive",
        k: int = 10,
        algo: str = "auto",
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        search_after: tuple | None = None,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """Top-k across all segments → DataFrame(conv_id, turn_idx,
        score); identical to a single index built over the union.
        ``scope`` restricts results to the given turns (metadata filter,
        global-stats scoring); ``min_match``/boosts (``tok^2``)/
        ``search_after`` follow the single reader's contract (the
        cursor resolves per segment — see :meth:`_resolve_after`)."""
        if (tombstones or scope is not None or search_after is not None
                or min_match > 1) and algo == "wand":
            raise ValueError(
                "algo='wand' cannot honor tombstones/scope/min_match/"
                "search_after (its bounded heap has no candidate-exclusion "
                "hook); use algo='auto' or 'exact'"
            )
        if spec is None:
            spec = self._resolve_spec(parse_query(query_text, mode, analyzed=analyzed, min_match=min_match))
        if spec is None:
            return _topk_frame(self.spark, None)
        fetch_terms = _fetch_terms(spec)
        idf = _weighted_idf(self.idf_map(spec.score_terms), spec)
        kernel = _make_group_kernel(
            spec, idf, self.avgdl, k, algo, with_ties=True,
            exclude=self._effective_exclude(tombstones), turn_bits=self.turn_bits,
            scoped=scope is not None,
            after=self._resolve_after(search_after),
        )
        if scope is None:
            frames = _local_groups(self.segments, fetch_terms, kernel)
            if frames is not None:
                return _topk_local(self.segments, frames, k)
        post = self._postings(fetch_terms)
        if scope is not None:
            cand = (
                post.groupBy("seg", "group")
                .cogroup(self.scope_docs(scope).groupBy("seg", "group"))
                .applyInPandas(
                    _with_seg_scoped(kernel), schema="seg int, " + RESULT_SCHEMA
                )
            )
        else:
            cand = post.groupBy("seg", "group").applyInPandas(
                _with_seg(kernel), schema="seg int, " + RESULT_SCHEMA
            )
        return (
            self._label(cand)
            .orderBy(F.desc("score"), F.asc("conv_id"), F.asc("turn_idx"))
            .limit(k)
        )

    def topk_conversations(
        self,
        query_text: str,
        mode: str = "disjunctive",
        k: int = 10,
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        search_after: tuple | None = None,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """Conversation-collapsed top-k across segments → DataFrame
        (conv_id, turn_idx, score).  A conversation CAN span segments
        (extend appends turns to existing convs), so each (seg, group)
        collapses locally — bounding the exchange at S·G·k rows — and a
        window re-collapses per conv_id before the global cut.  A conv
        whose best turn was cut by a segment-local top-k cannot belong
        to the global top-k (that segment already holds k better convs),
        so the two-level collapse stays exact.

        ``search_after`` is NOT supported here: a conversation spanning
        segments collapses to its best turn only AFTER the cross-segment
        window, so a per-segment cursor filter could resurface a
        conversation already served at a higher cross-segment score.
        Collapsed deep pagination needs a compacted (single) index."""
        from pyspark.sql import Window

        from .reader import _make_collapse_kernel

        if search_after is not None:
            raise ValueError(
                "search_after on conversation-collapsed results needs a "
                "single compacted index (a conv spanning segments would "
                "paginate on per-segment bests, not its global best); "
                "compact first or paginate turn-level topk"
            )
        if spec is None:
            spec = self._resolve_spec(parse_query(query_text, mode, analyzed=analyzed, min_match=min_match))
        if spec is None:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        fetch_terms = _fetch_terms(spec)
        idf = _weighted_idf(self.idf_map(spec.score_terms), spec)
        kernel = _make_collapse_kernel(
            spec, idf, self.avgdl, k, with_ties=True,
            exclude=self._effective_exclude(tombstones), turn_bits=self.turn_bits,
            scoped=scope is not None,
        )
        post = self._postings(fetch_terms)
        if scope is not None:
            cand = (
                post.groupBy("seg", "group")
                .cogroup(self.scope_docs(scope).groupBy("seg", "group"))
                .applyInPandas(
                    _with_seg_scoped(kernel), schema="seg int, " + RESULT_SCHEMA
                )
            )
        else:
            cand = post.groupBy("seg", "group").applyInPandas(
                _with_seg(kernel), schema="seg int, " + RESULT_SCHEMA
            )
        w = Window.partitionBy("conv_id").orderBy(
            F.desc("score"), F.asc("turn_idx")
        )
        return (
            self._label(cand)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .orderBy(F.desc("score"), F.asc("conv_id"), F.asc("turn_idx"))
            .limit(k)
        )

    def match_count(
        self,
        query_text: str,
        mode: str = "disjunctive",
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        spec: "QuerySpec | None" = None,
    ) -> int:
        """Total matching documents across all segments (totalResults
        analog) — per-(seg, group) counts sum because segments and
        groups hold disjoint documents."""
        from .reader import _make_count_kernel

        if spec is None:
            spec = self._resolve_spec(parse_query(query_text, mode, analyzed=analyzed, min_match=min_match))
        if spec is None:
            return 0
        fetch_terms = _fetch_terms(spec)
        idf = self.idf_map(spec.score_terms)
        kernel = _make_count_kernel(
            spec, idf, self.avgdl, exclude=self._effective_exclude(tombstones),
            turn_bits=self.turn_bits, scoped=scope is not None,
        )
        if scope is None:
            frames = _local_groups(self.segments, fetch_terms, kernel)
            if frames is not None:
                return sum(int(f["n"].sum()) for f in frames)
        post = self._postings(fetch_terms)
        if scope is not None:
            counted = (
                post.groupBy("seg", "group")
                .cogroup(self.scope_docs(scope).groupBy("seg", "group"))
                .applyInPandas(_with_seg_scoped(kernel), schema="seg int, n long")
            )
        else:
            counted = post.groupBy("seg", "group").applyInPandas(
                _with_seg(kernel), schema="seg int, n long"
            )
        row = counted.agg(F.sum("n")).collect()[0]
        return int(row[0] or 0)

    def matches(
        self,
        query_text: str,
        mode: str = "disjunctive",
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """ALL matching documents across segments → DataFrame(conv_id,
        turn_idx) — the candidate set :meth:`match_count` sizes,
        materialized for faceting and metadata joins."""
        from .reader import MATCHES_SCHEMA, _make_matches_kernel

        if spec is None:
            spec = self._resolve_spec(parse_query(query_text, mode, analyzed=analyzed, min_match=min_match))
        if spec is None:
            return self.spark.createDataFrame([], "conv_id string, turn_idx int")
        fetch_terms = _fetch_terms(spec)
        idf = self.idf_map(spec.score_terms)
        kernel = _make_matches_kernel(
            spec, idf, self.avgdl, exclude=self._effective_exclude(tombstones),
            turn_bits=self.turn_bits, scoped=scope is not None,
        )
        post = self._postings(fetch_terms)
        if scope is not None:
            cand = (
                post.groupBy("seg", "group")
                .cogroup(self.scope_docs(scope).groupBy("seg", "group"))
                .applyInPandas(
                    _with_seg_scoped(kernel), schema="seg int, " + MATCHES_SCHEMA
                )
            )
        else:
            cand = post.groupBy("seg", "group").applyInPandas(
                _with_seg(kernel), schema="seg int, " + MATCHES_SCHEMA
            )
        return self._label(cand.withColumn("score", F.lit(0.0))).drop("score")

    def matches_scored(
        self,
        query_text: str,
        mode: str = "disjunctive",
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """ALL matching documents WITH exact BM25 scores across segments
        → DataFrame(conv_id, turn_idx, score) — the segmented analog of
        :meth:`CompressedIndex.matches_scored` (global stats via the
        broadcast merged idf/avgdl, shadow/tombstone exclusion at kernel
        time), feeding rescoring operators like recency decay."""
        from .reader import RESULT_SCHEMA, _make_scored_matches_kernel

        if spec is None:
            spec = self._resolve_spec(parse_query(query_text, mode, analyzed=analyzed))
        if spec is None:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        fetch_terms = _fetch_terms(spec)
        idf = _weighted_idf(self.idf_map(spec.score_terms), spec)
        kernel = _make_scored_matches_kernel(
            spec, idf, self.avgdl, exclude=self._effective_exclude(tombstones),
            turn_bits=self.turn_bits, scoped=scope is not None,
        )
        post = self._postings(fetch_terms)
        if scope is not None:
            cand = (
                post.groupBy("seg", "group")
                .cogroup(self.scope_docs(scope).groupBy("seg", "group"))
                .applyInPandas(
                    _with_seg_scoped(kernel), schema="seg int, " + RESULT_SCHEMA
                )
            )
        else:
            cand = post.groupBy("seg", "group").applyInPandas(
                _with_seg(kernel), schema="seg int, " + RESULT_SCHEMA
            )
        return self._label(cand)

    def explain(
        self,
        query_text: str,
        conv_id: str,
        turn_idx: int,
        mode: str = "disjunctive",
        tombstones: list | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """Per-term score breakdown of ONE document across segments —
        same contract as :meth:`CompressedIndex.explain`, with GLOBAL
        statistics: idf/df merged across segments (shadow-corrected),
        avgdl the corrected global mean — so contributions sum to the
        MultiIndex :meth:`topk` score bit-for-bit.

        A (conv_id, turn_idx) has at most one LIVE occurrence across
        segments (the MultiIndex invariant; earlier copies are shadow-
        superseded), so segments probe newest-first: the conversation's
        segments each pay one convs lookup, but only the owner runs the
        group-pruned postings kernel.  Shadowed or tombstoned
        occurrences explain as absent — the ES ``matched: false``."""
        from .reader import EXPLAIN_SCHEMA, _assemble_explain

        if spec is None:
            spec = self._resolve_spec(parse_query(query_text, mode, analyzed=analyzed, min_match=min_match))
        if spec is None:
            return self.spark.createDataFrame([], EXPLAIN_SCHEMA)
        idf = _weighted_idf(self.idf_map(spec.score_terms), spec)
        excl = self._effective_exclude(tombstones)
        for i in reversed(range(len(self.segments))):
            seg = self.segments[i]
            coords = seg._doc_coords(conv_id, turn_idx)
            if coords is None:
                continue
            group, doc_id = coords
            tomb = excl.get(i) if excl else None
            if tomb is not None and not tomb.keep_mask(
                np.asarray([doc_id], dtype=np.int64), self.turn_bits
            )[0]:
                continue  # shadow-superseded (or user-tombstoned) here
            rows = seg._explain_rows(spec, idf, self.avgdl, group, doc_id)
            if rows:
                return _assemble_explain(
                    self.spark, rows, self.idf_map(spec.score_terms),
                    self.df_map(spec.score_terms), spec, self.avgdl,
                )
        return self.spark.createDataFrame([], EXPLAIN_SCHEMA)

    def facet_counts(
        self,
        query_text: str,
        meta: DataFrame,
        facet_col: str,
        mode: str = "disjunctive",
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """Matching-doc counts grouped by a metadata column → DataFrame
        (facet_col, n), across all segments — same contract as
        :meth:`CompressedIndex.facet_counts`."""
        from .reader import _facet_join

        cand = self.matches(
            query_text, mode, tombstones=tombstones, scope=scope,
            analyzed=analyzed, min_match=min_match, spec=spec,
        )
        return _facet_join(cand, meta, facet_col)

    def topk_batch(
        self,
        queries: list[tuple[str, str] | tuple[str, str, int]],
        k: int = 10,
        algo: str = "auto",
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
    ) -> DataFrame:
        """Batched top-k across all segments in ONE job →
        DataFrame(query_id, conv_id, turn_idx, score); row-identical to
        per-query :meth:`topk` (pinned by tests).  ``scope`` applies one
        shared metadata filter to every query of the batch."""
        if (tombstones or scope is not None) and algo == "wand":
            raise ValueError(
                "algo='wand' cannot honor tombstones/scope (its bounded heap "
                "has no candidate-exclusion hook); use algo='auto' or 'exact'"
            )
        specs = [
            (i, self._resolve_spec(sp), kk)
            for i, sp, kk in _parse_batch(queries, k, analyzed=analyzed)
        ]
        if not specs:
            return _topk_frame(self.spark, None, BATCH_TOPK_SCHEMA)
        fetch_terms, score_terms = _batch_term_sets(specs)
        merged_idf = self.idf_map(sorted(score_terms))
        # per-query maps carry that query's boosts (plists stay built
        # from the unscaled merged map — weighted specs score exact)
        idfs = [
            _weighted_idf({t: merged_idf[t] for t in s.score_terms}, s)
            for _, s, _ in specs
        ]
        kernel = _make_batch_kernel(
            [s for _, s, _ in specs],
            idfs,
            merged_idf,
            self.avgdl,
            [kk for _, _, kk in specs],
            algo,
            with_ties=True,
            exclude=self._effective_exclude(tombstones),
            turn_bits=self.turn_bits,
            scoped=scope is not None,
        )
        if scope is None:
            frames = _local_groups(self.segments, sorted(fetch_terms), kernel)
            if frames is not None:
                return _batch_local(self.segments, frames, specs)
        post = self._postings(sorted(fetch_terms))
        if scope is not None:
            cand = (
                post.groupBy("seg", "group")
                .cogroup(self.scope_docs(scope).groupBy("seg", "group"))
                .applyInPandas(
                    _with_seg_scoped(kernel),
                    schema="seg int, " + BATCH_RESULT_SCHEMA,
                )
            )
        else:
            cand = post.groupBy("seg", "group").applyInPandas(
                _with_seg(kernel), schema="seg int, " + BATCH_RESULT_SCHEMA
            )
        return _rank_per_query(self._label(cand, extra=("query_id",)), specs)
