"""Tests: SQL-function surface (register_all) and the curation pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_sql_function_surface(spark):
    from zerox_spark.functions import register_all
    from zerox_spark.synth import synth_pages

    register_all(spark)
    synth_pages(spark, SF_SMOKE).limit(20).createOrReplaceTempView("pages_v")
    rows = spark.sql(
        "SELECT url, zerox_extract(html) AS md, zerox_page_count(html) AS np "
        "FROM pages_v"
    ).collect()
    assert len(rows) == 20
    assert all(r.np >= 1 for r in rows)
    assert any("# Document" in r.md for r in rows)
    fp = spark.sql(
        "SELECT zerox_fingerprint('the quick brown fox jumps over it') AS f"
    ).collect()[0].f
    assert len(fp) > 0
    # the SQL function is the production kernel of textstats.fingerprints
    from zerox_spark.operators.textstats import fingerprints

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter("doc_id < 8")
    docs.createOrReplaceTempView("docs_v")
    sql_fp = {
        r.doc_id: r.fp for r in spark.sql(
            "SELECT doc_id, zerox_fingerprint(text) AS fp FROM docs_v"
        ).collect()
    }
    assert sql_fp == {r.doc_id: r.fp for r in fingerprints(docs).collect()}
    edge = spark.sql(
        "SELECT zerox_fingerprint(CAST(NULL AS STRING)) AS a, "
        "zerox_fingerprint('abcd') AS b"
    ).collect()[0]
    assert edge.a == [] and edge.b == []


def test_curation_removes_injected_duplicates(spark):
    from zerox_spark.operators.curation import curate
    from zerox_spark.operators.dedup import (
        DUP_EXACT_OFFSET, DUP_NEAR_OFFSET, with_injected_duplicates,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = curate(with_injected_duplicates(docs), quality_min=0.0)
    ids = {r.doc_id for r in out.collect()}
    # no injected exact copy survives (original doc_id is smaller)
    assert not any(i >= DUP_EXACT_OFFSET for i in ids)
    # no injected near-dup survives either
    assert not any(DUP_NEAR_OFFSET <= i < DUP_EXACT_OFFSET for i in ids)
    # but non-duplicated originals do
    assert any(i < DUP_NEAR_OFFSET for i in ids)


def test_redact_pii_behavior(spark):
    from zerox_spark.operators.textstats import redact_pii

    df = spark.createDataFrame(
        [(1, "contact bob@example.com or 10.0.0.1 please"),
         (2, "clean text with no identifiers at all")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert out[1].redacted == "contact [EMAIL] or [IP] please"
    assert (out[1].n_emails, out[1].n_ips) == (1, 1)
    assert out[2].redacted == out[2].redacted and out[2].n_emails == 0


def test_repetition_flags_repeated_docs(spark):
    from zerox_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam ham"),
         (2, "all words here are fully distinct tokens")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert out[1].top_word_share > 0.8
    assert out[2].distinct_word_ratio == 1.0


def test_curate_cluster_dedup_matches_pairwise_on_chainless_corpus(spark):
    """After exact dedup the injected corpus' near-dup graph has no chains,
    so cluster (connected-component) dedup and pairwise loser-removal keep
    the same survivors."""
    from zerox_spark.operators.curation import curate
    from zerox_spark.operators.dedup import with_injected_duplicates
    from zerox_spark.queries import _docs

    docs = with_injected_duplicates(
        _docs(spark, SF_SMOKE).select("doc_id", "text")
    )
    pairwise = {r.doc_id for r in curate(docs, quality_min=0.0).collect()}
    clustered = {
        r.doc_id
        for r in curate(docs, quality_min=0.0, cluster_dedup=True).collect()
    }
    assert pairwise == clustered


def test_dedup_lines_strips_cross_doc_boilerplate(spark):
    """Lines in >=2 distinct docs are removed everywhere; unique lines and
    empty separator lines survive; ordering is preserved; fully-boiler
    pages drop out."""
    from zerox_spark.operators.dedup import dedup_lines

    rows = [
        ("u1", 1, "unique one\n\nSHARED FOOTER\nkeep me"),
        ("u2", 1, "different text\n\nSHARED FOOTER"),
        ("u3", 1, "SHARED FOOTER"),
        # two pages of ONE url sharing a line: count_distinct(url)=1 → kept
        ("u4", 1, "intra-doc repeat"),
        ("u4", 2, "intra-doc repeat"),
    ]
    df = spark.createDataFrame(rows, ["url", "page_no", "markdown"])
    out = {
        (r.url, r.page_no): (r.clean_md, r.n_removed)
        for r in dedup_lines(df).collect()
    }
    assert out[("u1", 1)] == ("unique one\n\nkeep me", 1)
    assert out[("u2", 1)] == ("different text\n", 1)
    assert ("u3", 1) not in out  # page was pure boilerplate
    assert out[("u4", 1)] == ("intra-doc repeat", 0)
    assert out[("u4", 2)] == ("intra-doc repeat", 0)


def test_gopher_filter_rules_flip(spark):
    """Each Gopher rule independently gates `passes`."""
    from zerox_spark.operators.textstats import gopher_filter

    rows = [
        (1, " ".join(["the", "of", "and", "word"] * 20)),  # all rules pass
        (2, "the of and word"),                      # < 50 words
        (3, " ".join(["####"] * 60)),                # symbol + alpha fail
        (4, " ".join(["12345"] * 60)),               # alpha + stopword fail
        (5, " ".join(["a"] * 60)),                   # mean word len < 3
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in gopher_filter(df).collect()}
    assert out[1].passes == 1
    assert out[1].mean_word_len == 3.0 and out[1].alpha_word_ratio == 1.0
    assert out[2].passes == 0 and out[2].n_words == 4
    assert out[3].passes == 0 and out[3].symbol_ratio == 4.0
    assert out[4].passes == 0 and out[4].alpha_word_ratio == 0.0
    assert out[5].passes == 0 and out[5].mean_word_len == 1.0


def test_stratified_sample_deterministic_and_rates(spark):
    from zerox_spark.operators.curation import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else "zz") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    kept = stratified_sample(df, {"en": 50}, default_pct=0)
    ids = sorted(r.doc_id for r in kept.collect())
    # en rows (even ids): kept iff id % 100 < 50; zz rows: rate 0 → none
    assert ids == [i for i in range(200) if i % 2 == 0 and i % 100 < 50]
    # replay-stable: second evaluation returns the identical set
    assert sorted(r.doc_id for r in kept.collect()) == ids


def test_corpus_mix_rollup_marginals(spark):
    from zerox_spark.operators.curation import corpus_mix

    rows = [
        (1, "a b c", "en", "s1"),
        (2, "d e", "en", "s2"),
        (3, "f", "de", "s1"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    out = {
        (r.lang, r.source): (r.n_docs, r.total_ws_tokens)
        for r in corpus_mix(df).collect()
    }
    assert out[("en", "s1")] == (1, 3)
    assert out[("en", None)] == (2, 5)   # lang marginal
    assert out[(None, None)] == (3, 6)   # grand total


def test_injected_near_dup_short_doc_degrades_not_crashes(spark):
    """A ≤2-word doc in the near-dup stratum must degrade to empty
    injected text, not hit slice() with a negative length (a Spark
    runtime error — the sequence(1,0) crash class)."""
    from zerox_spark.operators.dedup import with_injected_duplicates

    df = spark.createDataFrame(
        [(3, "word"), (13, "two words"), (23, "a b c d")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r.text for r in with_injected_duplicates(df).collect()}
    assert rows[1000003] == ""
    assert rows[1000013] == ""
    assert rows[1000023] == "a b"


def test_asof_join_semantics(spark):
    """Latest build row at-or-before probe ts wins; equal ts matches;
    probes with no earlier build row drop; keys don't cross."""
    from zerox_spark.operators.events import asof_join

    probe = spark.createDataFrame(
        [("a", 5, "p1"), ("a", 9, "p2"), ("a", 1, "p0"), ("b", 7, "p3")],
        ["k", "t", "tag"],
    )
    build = spark.createDataFrame(
        [("a", 2, 100), ("a", 9, 200), ("b", 8, 300)],
        ["k", "t2", "m"],
    )
    out = {
        r.tag: r.matched.m
        for r in asof_join(probe, build, "k", "t", "t2").collect()
    }
    # p0 (t=1): no build <= 1 → dropped; p1 (t=5) → snapshot t=2;
    # p2 (t=9) → the EQUAL-ts snapshot t=9; p3 (b,7): b's only build is
    # t=8 > 7 → dropped
    assert out == {"p1": 100, "p2": 200}


class TestAsofReservedNames:
    def test_reserved_columns_raise(self, spark):
        probe = spark.createDataFrame(
            [(1, 10, "x")], "k int, ts int, matched string"
        )
        build = spark.createDataFrame([(1, 5, 2.0)], "k int, ts int, v double")
        from zerox_spark.operators.events import asof_join

        with pytest.raises(ValueError, match="reserved"):
            asof_join(probe, build, "k", "ts", "ts")

    def test_internal_ts_collision_raises(self, spark):
        probe = spark.createDataFrame([(1, 10, 3)], "k int, ts int, _ts int")
        build = spark.createDataFrame([(1, 5, 2.0)], "k int, ts int, v double")
        from zerox_spark.operators.events import asof_join

        with pytest.raises(ValueError, match="reserved"):
            asof_join(probe, build, "k", "ts", "ts")


def test_minhash_max_bucket_drops_viral_buckets_only(spark):
    """The viral-bucket knob: a family of N identical docs fills its band
    buckets with N members; max_bucket < N drops those buckets (the
    boilerplate family vanishes from the near-dup pairs) while small
    legitimate pairs survive."""
    from zerox_spark.operators.dedup import dedup_minhash_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    viral = [(100 + i, "spam " * 3 + "boilerplate footer text here now ok") for i in range(8)]
    pair = [(1, base), (2, base + " extra")]
    df = spark.createDataFrame(pair + viral, ["doc_id", "text"])
    # default: viral family produces C(8,2)=28 pairs plus the real pair
    full = dedup_minhash_pairs(df).count()
    assert full >= 29
    capped = dedup_minhash_pairs(df, max_bucket=4)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(1, 2)}


def test_embedding_max_bucket_knob(spark):
    """The embedding-LSH viral-bucket cap: identical vectors flood their
    buckets; capping drops that family while distinct near-dups survive."""
    from zerox_spark.operators.similarity import embedding_dup_pairs

    dim = 8
    base = [1.0] + [0.0] * (dim - 1)
    near = [0.99] + [0.14] + [0.0] * (dim - 2)
    other = [0.0] * (dim - 1) + [1.0]
    rows = [(1, base), (2, near), (3, other)]
    rows += [(100 + i, [0.5] * dim) for i in range(8)]  # viral family
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    full = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(df, dim, threshold=0.9).collect()
    }
    assert (1, 2) in full and len(full) >= 1 + 28
    capped = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(
            df, dim, threshold=0.9, max_bucket=4
        ).collect()
    }
    assert capped == {(1, 2)}


def test_ann_lsh_max_bucket_knob(spark):
    """The ANN-LSH viral-bucket cap: a family of identical vectors floods
    its bucket in every table; a family query then has only over-cap
    buckets and gets no candidates, while a query whose buckets all stay
    under the cap gets the same neighbors as without it."""
    from zerox_spark.operators.similarity import ann_topk_lsh

    # odd dim: a ±1 plane's component sum is never 0, so -v takes the
    # complementary sign bit of v on every plane — the family's buckets
    # and the small group's never meet in any table
    dim = 9
    small = [(1, [-0.5] * dim), (2, [-0.45] + [-0.5] * (dim - 1)),
             (3, [-0.5] * (dim - 1) + [-0.45])]
    viral = [(100 + i, [0.5] * dim) for i in range(8)]
    df = spark.createDataFrame(small + viral, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id").isin(1, 100))

    def top(max_bucket):
        return {
            (r.query_id, r.rank, r.neighbor_id, r.cos)
            for r in ann_topk_lsh(
                df, queries, dim, k=5, max_bucket=max_bucket
            ).collect()
        }

    full, capped = top(None), top(4)
    assert {n for q, _, n, _ in full if q == 100} == {101, 102, 103, 104, 105}
    assert {n for q, _, n, _ in full if q == 1} == {2, 3}
    assert capped == {row for row in full if row[0] == 1}


def test_decontaminate_fuzzy_max_gram_df_knob(spark):
    """The fuzzy-decontamination gram cap: more than ``max_gram_df`` long,
    mutually distinct pages quoting one benchmark item verbatim put each of
    its 4-grams over the cap, so the cap unflags them (the bands of a long
    page miss a short item); an item embedded in one page is matched
    through 4-grams under the cap and stays flagged."""
    from zerox_spark.operators.decontam import decontaminate_fuzzy

    common = " ".join(f"common{i}" for i in range(20))
    rare = " ".join(f"rare{i}" for i in range(20))

    def page(doc_id, item):
        filler = " ".join(f"fill{doc_id}x{j}" for j in range(300))
        return (doc_id, f"{filler} {item}")

    viral = [page(i, common) for i in range(1, 6)]  # 5 > max_gram_df=3
    docs = spark.createDataFrame(
        viral + [page(9, rare), (10, "unrelated text " * 20)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, common), (101, rare)], "doc_id long, text string"
    )

    def flagged(max_gram_df):
        return {
            r.doc_id
            for r in decontaminate_fuzzy(
                docs, bench, max_gram_df=max_gram_df
            ).collect()
            if r.fuzzy_contaminated
        }

    assert flagged(None) == {1, 2, 3, 4, 5, 9}
    assert flagged(3) == {9}


class TestUrlTools:
    def test_canonicalize_rules(self, spark):
        from zerox_spark.operators.urltools import canonical_urls

        rows = [
            ("HTTP://Site1.Example:80/a/b/?utm_source=x&z=2&a=1#frag",),
            ("https://site1.example/a/b?a=1&z=2",),
            ("https://site3.example",),
            ("https://site3.example/?fbclid=abc&gclid=1",),
            ("https://site4.example:8080/keep/port",),
        ]
        out = {
            r["url"]: (r["canonical_url"], r["domain"])
            for r in canonical_urls(
                spark.createDataFrame(rows, "url string")
            ).collect()
        }
        assert out[rows[0][0]] == (
            "http://site1.example/a/b?a=1&z=2", "site1.example",
        )
        # two spellings of the same page collapse
        assert out[rows[0][0]][0].split("?")[1] == "a=1&z=2"
        assert out[rows[1][0]][0] == "https://site1.example/a/b?a=1&z=2"
        assert out[rows[2][0]][0] == "https://site3.example/"
        assert out[rows[3][0]][0] == "https://site3.example/"
        # non-default port survives (identity-bearing)
        assert out[rows[4][0]][0] == "https://site4.example:8080/keep/port"

    def test_domain_stats_collapses_spellings(self, spark):
        from zerox_spark.operators.urltools import domain_stats

        rows = [
            ("https://a.example/x",),
            ("https://a.example/x/",),
            ("https://a.example/x#top",),
            ("https://b.example/y?utm_source=z",),
            ("https://b.example/y",),
        ]
        out = {
            r["domain"]: (r["n_pages"], r["n_canonical"])
            for r in domain_stats(
                spark.createDataFrame(rows, "url string")
            ).collect()
        }
        assert out["a.example"] == (3, 1)
        assert out["b.example"] == (2, 1)


# --------------------------------------------------------------------------
# sequence packing (operators/packing.py, round 5)


class TestSequencePacking:
    def _docs(self, spark):
        rows = [(i, "w " * ((i * 13) % 40)) for i in range(200)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_placement_invariants(self, spark):
        from zerox_spark.operators.packing import pack_sequences

        placed = pack_sequences(
            self._docs(spark), seq_len=64, n_shards=4
        ).collect()
        by_shard = {}
        for r in placed:
            by_shard.setdefault(r.shard, []).append(r)
        assert set(by_shard) == {0, 1, 2, 3}
        for shard, rows in by_shard.items():
            rows.sort(key=lambda r: r.doc_id)
            off = 0
            for r in rows:
                # offsets are gapless and contiguous in doc order
                assert r.pack_offset == off
                assert r.shard == r.doc_id % 4
                off += r.n_tokens
                # sequence span matches the offset arithmetic
                assert r.seq_first == r.pack_offset // 64
                last = r.pack_offset + max(r.n_tokens - 1, 0)
                assert r.seq_last == last // 64
                assert r.seq_last >= r.seq_first

    def test_no_global_sort_in_plan(self, spark):
        # the scale contract (round 6, two-level): never a global
        # (rangepartitioned) sort; the window over the FULL corpus
        # partitions by (shard, block) — bounded groups, no
        # whole-shard-on-one-task window — and the carry comes back via
        # a broadcast join, not another big shuffle
        from zerox_spark.operators.packing import pack_sequences

        plan = pack_sequences(
            self._docs(spark), seq_len=64, n_shards=4
        )._jdf.queryExecution().executedPlan().toString()
        low = plan.lower()
        assert "rangepartitioning" not in low
        specs = [
            s for s in low.split("windowspecdefinition(")[1:]
        ]
        # level-1 spec names both shard and block; the only shard-only
        # window runs over the tiny per-block totals
        assert any("shard" in s[:80] and "block" in s[:80] for s in specs)
        assert "broadcast" in low

    def test_two_level_carry_identical_to_single_window(
        self, spark, monkeypatch
    ):
        # shrink the carry block so 200 docs span many blocks, then check
        # bit-identity with the directly-computed single-pass prefix sums
        from zerox_spark.operators import packing

        monkeypatch.setattr(packing, "_PACK_BLOCK", 16)
        placed = packing.pack_sequences(
            self._docs(spark), seq_len=64, n_shards=4
        ).collect()
        by_shard = {}
        for r in sorted(placed, key=lambda r: r.doc_id):
            assert r.pack_offset == by_shard.get(r.shard, 0)
            by_shard[r.shard] = r.pack_offset + r.n_tokens

    def test_empty_and_zero_token_docs(self, spark):
        from zerox_spark.operators.packing import pack_sequences

        docs = spark.createDataFrame(
            [(0, ""), (4, "a b c"), (8, "")],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r
            for r in pack_sequences(docs, seq_len=2, n_shards=4).collect()
        }
        # empty docs occupy zero tokens; ws split of "" yields one token
        # per the corpus accountant's convention — invariant: offsets
        # remain gapless regardless
        assert rows[0].pack_offset == 0
        assert rows[4].pack_offset == rows[0].n_tokens
        assert rows[8].pack_offset == rows[4].pack_offset + rows[4].n_tokens


class TestEditedFuzzyFloor:
    def test_edits_kill_every_8gram_but_fuzzy_catches(self, spark):
        # the exact 8-gram pass MUST miss the edited items (that is the
        # blind spot the fuzzy path exists for) while the fuzzy path
        # flags them — the edited_fuzzy recall-floor contract
        from pyspark.sql import functions as F

        from zerox_spark.operators.decontam import (
            decontaminate,
            decontaminate_fuzzy,
            edited_benchmark_variants,
        )

        # letter-only vocabulary: the digit-renumbering edit must not be
        # the thing that perturbs EVERY word (web text is mostly words;
        # an all-numeric benchmark item renumbered everywhere is a
        # legitimately heavy edit, out of the floor's scope)
        words = [
            "tok" + chr(97 + i % 23) + chr(97 + (i // 23) % 17)
            for i in range(120)
        ]
        rows = [
            (i, " ".join(words[j % 40 :] + words[: j % 40]))
            for i, j in enumerate(range(0, 24, 2))
        ]
        bench = spark.createDataFrame(rows, "doc_id long, text string")
        edited = edited_benchmark_variants(bench)
        # determinism: two invocations are byte-identical
        a = {r.doc_id: r.text for r in edited.collect()}
        b = {r.doc_id: r.text for r in edited.collect()}
        assert a == b
        assert all(did >= 1_000_000 for did in a)
        # every edited text differs from its source; undoing the digit
        # renumbering recovers the source's word multiset (only swaps
        # and renumbering happened — no words added or dropped)
        src = {r.doc_id: r.text for r in bench.collect()}
        undo = str.maketrans("5678901234", "0123456789")
        for did, text in a.items():
            assert text != src[did - 1_000_000]
            assert sorted(text.translate(undo).split(" ")) == sorted(
                src[did - 1_000_000].split(" ")
            )
        ex = decontaminate(edited, bench)
        fz = decontaminate_fuzzy(edited, bench)
        n_exact = ex.agg(F.sum("contaminated")).collect()[0][0]
        n_fuzzy = fz.agg(F.sum("fuzzy_contaminated")).collect()[0][0]
        n = bench.count()
        # word swaps every 10 positions kill EVERY 8-gram window
        assert n_exact == 0
        assert n_fuzzy >= 0.95 * n
