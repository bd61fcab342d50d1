"""Unit tests: chunking, embedding, similarity, dedup, linking, graph,
multimodal — tiny synthetic frames, reference-semantics assertions."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hades_spark.functions.embedding import HashEmbedder, embed_chunks
from hades_spark.operators.chunking import chunk_text, chunks_table


class TestChunking:
    def test_chunk_text_basic(self):
        text = " ".join(f"t{i}" for i in range(10))
        chunks = chunk_text(text, chunk_size=4, overlap=2)
        # step=2: windows at 0,2,4,6 and the tail window at 6 covers to end
        assert [c["text"].split()[0] for c in chunks] == ["t0", "t2", "t4", "t6"]
        assert chunks[-1]["text"].split()[-1] == "t9"

    def test_spans_slice_original(self):
        text = "alpha   beta\tgamma delta"
        for c in chunk_text(text, chunk_size=2, overlap=1):
            assert text[c["start_char"]:c["end_char"]] == c["text"]

    def test_empty_and_whitespace(self):
        assert chunk_text("", 5, 2) == []
        assert chunk_text("   ", 5, 2) == []

    def test_single_window_when_short(self):
        assert len(chunk_text("a b c", 10, 2)) == 1

    def test_chunks_table_keys(self, spark):
        docs = spark.createDataFrame(
            [("d1", " ".join(f"w{i}" for i in range(12)))], "doc_id string, text string")
        out = chunks_table(docs, chunk_size=5, overlap=2).collect()
        assert [r["chunk_id"] for r in out] == \
            [f"d1_chunk_{i}" for i in range(len(out))]
        assert all(r["total_chunks"] == len(out) for r in out)


class TestHashEmbedder:
    def test_deterministic_and_normalized(self):
        e = HashEmbedder(32)
        v1 = e.encode(["hello world"])
        v2 = e.encode(["hello world"])
        assert np.allclose(v1, v2)
        assert abs(np.linalg.norm(v1[0]) - 1.0) < 1e-5

    def test_similar_strings_high_cosine(self):
        e = HashEmbedder(64)
        m = e.encode(["apache spark", "apache  spark!", "postgresql"])
        sim_close = float(m[0] @ m[1])
        sim_far = float(m[0] @ m[2])
        assert sim_close > sim_far

    def test_embed_chunks_contract(self, spark):
        docs = spark.createDataFrame(
            [("d1", " ".join(f"w{i}" for i in range(20)))],
            "doc_id string, text string")
        ch = chunks_table(docs, chunk_size=8, overlap=2)
        emb = embed_chunks(ch, dim=16).collect()
        assert all(r["embedding_id"].endswith("_emb") for r in emb)
        assert all(len(r["embedding"]) == 16 for r in emb)
        for r in emb:
            assert abs(sum(x * x for x in r["embedding"]) - 1.0) < 1e-4


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb_df(self, spark):
        rng = np.random.RandomState(0)
        rows = [(i, rng.standard_normal(8).astype(np.float32).tolist())
                for i in range(50)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_brute_force_topk_matches_numpy(self, emb_df):
        from hades_spark.operators.similarity import brute_force_topk

        rows = {r["vec_id"]: np.array(r["embedding"]) for r in emb_df.collect()}
        q = rows[0]
        scores = {
            i: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
            for i, v in rows.items()
        }
        want = sorted(scores, key=lambda i: (-scores[i], i))[:5]
        got = [r["vec_id"] for r in
               brute_force_topk(emb_df, q.tolist(), k=5).collect()]
        assert got == want

    def test_topk_join_many_queries(self, emb_df):
        from hades_spark.operators.similarity import topk_join

        qs = emb_df.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        cs = emb_df.select(F.col("vec_id").alias("c_id"),
                           F.col("embedding").alias("c_vec"))
        out = topk_join(qs, cs, k=3).collect()
        assert len(out) == 9
        by_q = {}
        for r in out:
            by_q.setdefault(r["q_id"], []).append(r)
        for q_id, rs in by_q.items():
            # rank 1 must be the query itself (cosine 1.0)
            best = min(rs, key=lambda r: r["rank"])
            assert best["c_id"] == q_id

    def test_lsh_topk_self_hit(self, emb_df):
        from hades_spark.operators.similarity import lsh_topk_join

        qs = emb_df.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        cs = emb_df.select(F.col("vec_id").alias("c_id"),
                           F.col("embedding").alias("c_vec"))
        out = lsh_topk_join(qs, cs, dim=8, k=1, n_planes=4).collect()
        # every query shares its own bucket, so rank-1 is itself
        assert {r["q_id"] for r in out} == {0, 1, 2, 3, 4}
        for r in out:
            assert r["c_id"] == r["q_id"]


class TestDedup:
    def test_exact_dedup(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello  World"), (2, "hello world"), (3, "unrelated")],
            "doc_id long, text string")
        from hades_spark.operators.dedup import exact_dedup

        out = {r["doc_id"]: r["dup_count"] for r in
               exact_dedup(df, "doc_id", "text").collect()}
        assert out == {1: 2, 3: 1}

    def test_minhash_dedup_survivors(self, spark):
        base = " ".join(f"tok{i}" for i in range(60))
        near = base.replace("tok30", "tokX")  # ~1 shingle family changed
        far = " ".join(f"other{i}" for i in range(60))
        df = spark.createDataFrame(
            [(1, base), (2, near), (3, far)], "doc_id long, text string")
        from hades_spark.operators.dedup import minhash_dedup

        kept = sorted(r["doc_id"] for r in
                      minhash_dedup(df, "doc_id", "text", threshold=0.7).collect())
        assert kept == [1, 3]

    def test_simhash_pairs_near_texts(self, spark):
        base = " ".join(f"tok{i}" for i in range(100))
        near = base + " extra"
        far = " ".join(f"zzz{i}" for i in range(100))
        df = spark.createDataFrame(
            [(1, base), (2, near), (3, far)], "doc_id long, text string")
        from hades_spark.operators.dedup import simhash_pairs

        # bands=16 keeps the pigeonhole guarantee for max_hamming=8
        # (the validator now rejects lossy max_hamming >= bands configs)
        pairs = {(r["a"], r["b"]) for r in
                 simhash_pairs(df, "doc_id", "text",
                               max_hamming=8, bands=16).collect()}
        assert (1, 2) in pairs
        assert (1, 3) not in pairs and (2, 3) not in pairs


class TestLinking:
    def test_strategy_ladder_and_tiebreak(self, spark):
        mentions = spark.createDataFrame(
            [("m1", "Spark", "u1"),
             ("m2", "apache spark", "u2"),
             ("m3", "spark", "u3"),
             ("m4", "nomatch_xyz_qq", "u1")],
            "mention_id string, surface string, url string")
        catalog = spark.createDataFrame(
            [("e1", "Spark", "u9"),
             ("e2", "Apache Spark", "u2"),
             ("e3", "spark streaming", "u3")],
            "entity_id string, name string, source string")
        from hades_spark.operators.linking import link_mentions

        out = {r["mention_id"]: r for r in
               link_mentions(mentions, catalog).collect()}
        # m1: exact-surface match wins (strategy 1)
        assert out["m1"]["entity_id"] == "e1" and out["m1"]["strategy"] == 1
        # m2: normalized match on e2 (strategy 2)
        assert out["m2"]["entity_id"] == "e2" and out["m2"]["strategy"] == 2
        # m3: normalized 'spark' == e1's normalized name (strategy 2)
        assert out["m3"]["entity_id"] == "e1"
        # m4: no candidates
        assert "m4" not in out


class TestGraph:
    def test_bfs_depths(self, spark):
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (9, 9)], "src long, dst long")
        seeds = spark.createDataFrame([(1,)], "node long")
        from hades_spark.operators.graph import bfs

        out = {r["node"]: r["depth"] for r in bfs(edges, seeds, 2).collect()}
        assert out == {1: 0, 2: 1, 3: 2}

    def test_shortest_path(self, spark):
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 5)], "src long, dst long")
        from hades_spark.operators.graph import shortest_path_length

        assert shortest_path_length(edges, 1, 5) == 2
        assert shortest_path_length(edges, 5, 1, max_depth=3) is None

    def test_frontier_broadcast_falls_back_to_shuffle(self, spark):
        """A frontier past ``broadcast_max_rows`` must NOT carry the
        broadcast hint (a depth-2 web frontier can exceed executor
        memory): the level join falls back to a shuffle hash join, and
        the result is identical either way."""
        from hades_spark.operators.graph import bfs

        # star: 1 -> 2..401, then 2..401 -> 500 (big level-1 frontier)
        rows = [(1, i) for i in range(2, 402)] + \
               [(i, 500) for i in range(2, 402)]
        edges = spark.createDataFrame(rows, "src long, dst long")
        seeds = spark.createDataFrame([(1,)], "node long")

        log_b, log_s = [], []
        out_b = {(r["node"], r["depth"])
                 for r in bfs(edges, seeds, 2, _mode_log=log_b).collect()}
        out_s = {(r["node"], r["depth"])
                 for r in bfs(edges, seeds, 2, broadcast_max_rows=100,
                              _mode_log=log_s).collect()}
        assert out_b == out_s
        assert (500, 2) in out_s and len(out_s) == 402
        # default: every level broadcast; capped: the seed level (1 row)
        # broadcasts, the 400-row frontier level takes the shuffle path
        assert log_b == ["broadcast", "broadcast"]
        assert log_s == ["broadcast", "shuffle"]

    def test_frontier_fallback_plan_modes(self, spark):
        """The ONLY difference between the two modes is the broadcast
        hint on the frontier side: with the hint the level join plans as
        BroadcastHashJoin even when autoBroadcastJoinThreshold is off;
        without it Catalyst is free to shuffle."""
        from pyspark.sql import functions as F

        from hades_spark.operators.graph import _oriented

        edges = spark.createDataFrame(
            [(1, 2), (2, 3)], "src long, dst long")
        frontier = spark.createDataFrame([(1,)], "node long")
        e = _oriented(edges, "src", "dst", "outbound")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            hinted = e.join(F.broadcast(frontier),
                            e._s == frontier.node)
            plain = e.join(frontier, e._s == frontier.node)
            assert "BroadcastHashJoin" in \
                hinted._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in \
                plain._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


class TestMultimodal:
    def test_metadata_plumbing(self, spark):
        df = spark.createDataFrame(
            [("m1", "image", bytearray(b"imagebytes")),
             ("m2", "audio", bytearray(b"audiobyteslonger")),
             ("m3", "weird", bytearray(b"x"))],
            "media_id string, media_type string, payload binary")
        from hades_spark.functions.multimodal import extract_media_metadata

        out = {r["media_id"]: r for r in extract_media_metadata(df).collect()}
        assert out["m1"]["width"] == 160 + 10 % 1920
        assert out["m2"]["duration_ms"] == 500 + (16 * 131) % 600000
        assert out["m3"]["error"].startswith("unknown media_type")

    def test_real_decoder_is_explicit_stub(self):
        from hades_spark.functions.multimodal import real_decode

        with pytest.raises(NotImplementedError):
            real_decode(b"x", "image")


class TestAlternatingComponents:
    """large-star/small-star must agree with the driver-side union-find."""

    def _cc_sets(self, rows):
        comp = {}
        for node, c in rows:
            comp.setdefault(c, set()).add(node)
        return {frozenset(v) for v in comp.values()}

    def test_equiv_random_graphs(self, spark):
        import random

        from hades_spark.operators.components import alternating_components

        rng = random.Random(7)
        for trial in range(3):
            n = 40
            pairs = [(f"n{rng.randrange(n):03d}", f"n{rng.randrange(n):03d}")
                     for _ in range(30)]
            df = spark.createDataFrame(pairs, "a string, b string")
            alt = alternating_components(df, local_threshold=0).collect()
            # the default threshold collects these 30 pairs and runs the
            # driver-side union-find: the reference
            uf = alternating_components(df).collect()
            assert {(r["node"], r["component"]) for r in alt} == \
                   {(r["node"], r["component"]) for r in uf}

    def test_long_chain_bounded_rounds(self, spark):
        # a 512-node chain has diameter 511: min-label would need ~511
        # rounds; alternation must finish within ~2*log2(n)+C rounds.
        from hades_spark.operators.components import alternating_components

        n = 512
        pairs = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(n - 1)]
        df = spark.createDataFrame(pairs, "a string, b string")
        out = alternating_components(df, max_iter=25, local_threshold=0)
        rows = [(r["node"], r["component"]) for r in out.collect()]
        assert len(rows) == n
        assert {c for _, c in rows} == {"c0000"}

    def test_local_vs_distributed_alternating(self, spark):
        from hades_spark.operators.components import alternating_components

        pairs = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "a")],
            "a string, b string")
        local = {(r["node"], r["component"])
                 for r in alternating_components(pairs).collect()}
        dist = {(r["node"], r["component"])
                for r in alternating_components(pairs, local_threshold=0).collect()}
        assert local == dist

    def test_raises_past_max_iter(self, spark):
        # one round cannot collapse a 31-node chain, so its edge-set
        # fingerprint still changes when the round budget runs out
        import pytest as _pytest

        from hades_spark.operators.components import alternating_components

        pairs = spark.createDataFrame(
            [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(30)],
            "a string, b string")
        with _pytest.raises(RuntimeError, match="did not converge"):
            alternating_components(pairs, local_threshold=0,
                                   max_iter=1).collect()


class TestDecodeConsistency:
    def test_mention_surfaces_match_text_on_latin1_page(self, spark):
        # page i%97==13 carries a raw 0xE9 byte (invalid utf-8): the mention
        # UDF must use the SAME utf-8 -> latin-1 ladder as text extraction,
        # so surfaces never contain U+FFFD where the text has 'é'
        from hades_spark.functions.mentions import detect_mentions
        from hades_spark.textcore.html import (
            decode_html_bytes, extract_text_from_html_bytes)

        html = ("<p>see <a href='https://x.example/a'>café page</a></p>"
                .encode("utf-8") + b"<p>caf\xe9</p>")
        text = extract_text_from_html_bytes(html)
        assert "café" in text and "�" not in text
        ms = detect_mentions(decode_html_bytes(html), text)
        link = [m for m in ms if m["kind"] == "link"][0]
        assert "�" not in link["surface"]

    def test_udf_path_matches(self, spark):
        from hades_spark.functions.mentions import explode_mentions
        from hades_spark.pipeline.persist import _stage1
        from hades_spark.schemas import PAGES

        html = b"<a href='https://x.example/a'>caf\xe9 link text here</a>"
        pages = spark.createDataFrame(
            [("u1", None, bytearray(html), None, None)], PAGES)
        out = explode_mentions(_stage1(pages)).collect()
        surfaces = [r["surface"] for r in out if r["kind"] == "link"]
        assert surfaces == ["café link text here"]


class TestSaltDeterminism:
    def test_salted_repartition_stable_assignment(self, spark):
        # same input => byte-identical partition assignment across two runs
        # (content-hash salt; monotonically_increasing_id would differ)
        from hades_spark.sources.io import salted_repartition

        df = spark.createDataFrame(
            [(f"k{i % 3}", f"v{i}") for i in range(100)],
            "key string, val string")

        def assignment(d):
            out = salted_repartition(d, "key", 8).withColumn(
                "pid", F.spark_partition_id())
            return sorted((r["key"], r["val"], r["pid"]) for r in out.collect())

        assert assignment(df) == assignment(df)

    def test_salted_group_count_matches_plain(self, spark):
        from hades_spark.operators.skew import salted_group_count

        df = spark.createDataFrame(
            [(f"k{i % 5}", i) for i in range(200)], "key string, v int")
        got = {(r["key"], r["cnt"])
               for r in salted_group_count(df, "key", n_salts=4).collect()}
        want = {(r["key"], r["cnt"]) for r in
                df.groupBy("key").agg(F.count("*").alias("cnt")).collect()}
        assert got == want


class TestTraversalParity:
    def _edges(self, spark):
        return spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d"), ("a", "e"), ("e", "d"),
             ("x", "a")],
            "src string, dst string")

    def test_bfs_directions(self, spark):
        from hades_spark.operators.graph import bfs

        e = self._edges(spark)
        seeds = spark.createDataFrame([("a",)], ["node"])
        out = {r["node"]: r["depth"]
               for r in bfs(e, seeds, 4, direction="outbound").collect()}
        assert out == {"a": 0, "b": 1, "e": 1, "c": 2, "d": 2}
        inb = {r["node"]: r["depth"]
               for r in bfs(e, seeds, 4, direction="inbound").collect()}
        assert inb == {"a": 0, "x": 1}
        any_ = {r["node"]: r["depth"]
                for r in bfs(e, seeds, 4, direction="any").collect()}
        assert any_ == {"a": 0, "b": 1, "e": 1, "x": 1, "c": 2, "d": 2}

    def test_shortest_path_vertices(self, spark):
        from hades_spark.operators.graph import (
            shortest_path, shortest_path_length)

        e = self._edges(spark)
        # two 2-hop routes a->d: via b? no (b->c->d is 3); via e (a->e->d)
        assert shortest_path_length(e, "a", "d") == 2
        assert shortest_path(e, "a", "d") == ["a", "e", "d"]
        # unreachable within bound / direction
        assert shortest_path(e, "d", "a") is None
        assert shortest_path(e, "d", "a", direction="any") == \
            ["d", "e", "a"]  # min-parent tie-break: 'e' < 'c'? c->d so d's
        # parents are c,e -> min 'c'... verify deterministically below

    def test_shortest_path_deterministic_tie_break(self, spark):
        from hades_spark.operators.graph import shortest_path

        # two equal-length routes s->t: s->a->t and s->b->t; min parent 'a'
        e = spark.createDataFrame(
            [("s", "a"), ("s", "b"), ("a", "t"), ("b", "t")],
            "src string, dst string")
        assert shortest_path(e, "s", "t") == ["s", "a", "t"]

    def test_source_equals_target(self, spark):
        from hades_spark.operators.graph import shortest_path

        e = self._edges(spark)
        assert shortest_path(e, "a", "a") == ["a"]


class TestLangId:
    def test_seven_languages(self, spark):
        from hades_spark.functions.text_analysis import lang_id_col

        samples = [
            ("en", "the cat sat on the mat and it was happy with this"),
            ("de", "der hund ist nicht mit der katze auf dem sofa und das"),
            ("fr", "le chat est dans la maison et les enfants sont pour vous"),
            ("es", "el perro es una mascota que vive en las casas por años"),
            ("it", "il gatto è un animale che non vive per sempre con gli"),
            ("pt", "o cachorro é um animal que não vive em uma casa do mar"),
            ("nl", "de hond is een dier dat niet van de kat op het erf"),
        ]
        df = spark.createDataFrame(samples, "want string, text string")
        got = {r["want"]: r["got"] for r in
               df.select("want", lang_id_col(F.col("text")).alias("got"))
                 .collect()}
        assert got == {w: w for w, _ in samples}

    def test_und_for_no_markers(self, spark):
        from hades_spark.functions.text_analysis import lang_id_col

        df = spark.createDataFrame([("xyzzy plugh 12345",)], "text string")
        assert df.select(lang_id_col(F.col("text")).alias("l")) \
                 .collect()[0]["l"] == "und"


class TestTokenPooling:
    def test_mean_pool_l2_pure(self):
        import numpy as np

        from hades_spark.functions.embedding import HashEmbedder, mean_pool_l2

        emb = HashEmbedder(16)
        toks = ["alpha", "beta", "gamma"]
        mat = emb.encode(toks)
        v = mean_pool_l2(mat)
        assert v.shape == (16,)
        assert abs(np.linalg.norm(v) - 1.0) < 1e-6
        want = mat.mean(axis=0)
        want = want / np.linalg.norm(want)
        assert np.allclose(v, want, atol=1e-6)

    def test_pooled_embed_chunks_matches_token_mean(self, spark):
        import numpy as np

        from hades_spark.functions.embedding import (
            HashEmbedder, pooled_embed_chunks)

        chunks = spark.createDataFrame(
            [("d1", 0, "d1_chunk_0", "alpha beta gamma"),
             ("d1", 1, "d1_chunk_1", "delta"),
             ("d2", 0, "d2_chunk_0", "x y z w longer token list here")],
            "doc_id string, chunk_index int, chunk_id string, text string")
        got = {(r["doc_id"], r["chunk_index"]):
               (np.array(r["embedding"]), r["n_tokens"])
               for r in pooled_embed_chunks(chunks, dim=16).collect()}
        emb = HashEmbedder(16)
        for (doc, idx, _cid, text) in chunks.collect():
            toks = text.split()
            want = emb.encode(toks).mean(axis=0)
            want = want / np.linalg.norm(want)
            v, n = got[(doc, idx)]
            assert n == len(toks)
            assert np.allclose(v, want, atol=1e-5), (doc, idx)

    def test_pooled_l2_norm_is_one(self, spark):
        import numpy as np

        from hades_spark.functions.embedding import pooled_embed_chunks

        chunks = spark.createDataFrame(
            [("d", i, f"d_chunk_{i}", f"tok{i} tok{i+1} filler words")
             for i in range(5)],
            "doc_id string, chunk_index int, chunk_id string, text string")
        for r in pooled_embed_chunks(chunks, dim=32).collect():
            assert abs(np.linalg.norm(r["embedding"]) - 1.0) < 1e-5


class TestChunkingStrategies:
    PARA = ("First paragraph with several words in it.\n\n"
            "Second paragraph also has words. It has two sentences.\n\n"
            + " ".join(f"w{i}" for i in range(40)) + ".\n\n"
            "Tail paragraph.")

    def test_semantic_respects_paragraphs_and_cap(self):
        from hades_spark.operators.chunking import semantic_chunks

        out = semantic_chunks(self.PARA, max_chunk_size=20, min_chunk_size=2)
        assert out
        for c in out:
            assert len(c["text"].split()) <= 20 or \
                " " not in c["text"]  # single oversized token edge
        # every source word survives, order preserved
        all_words = " ".join(c["text"].replace("\n\n", " ") for c in out).split()
        src_words = " ".join(self.PARA.replace("\n\n", " ").split()).split()
        assert all_words == src_words

    def test_semantic_oversized_paragraph_sentence_split(self):
        from hades_spark.operators.chunking import semantic_chunks

        text = ("Sentence one is here. Sentence two is longer with words. "
                "Sentence three closes.")
        out = semantic_chunks(text, max_chunk_size=8, min_chunk_size=1)
        assert len(out) >= 2
        for c in out:
            assert len(c["text"].split()) <= 8

    def test_small_tail_merges_into_previous(self):
        from hades_spark.operators.chunking import semantic_chunks

        text = (" ".join(f"a{i}" for i in range(10)) + ".\n\ntiny.")
        out = semantic_chunks(text, max_chunk_size=20, min_chunk_size=5)
        assert len(out) == 1  # 'tiny.' merged back
        assert out[0]["text"].endswith("tiny.")

    def test_hybrid_guarantees_overlap(self):
        from hades_spark.operators.chunking import hybrid_chunks

        text = "\n\n".join(
            " ".join(f"p{k}w{i}" for i in range(12)) + "."
            for k in range(4))
        out = hybrid_chunks(text, max_chunk_size=15, min_chunk_size=2,
                            min_overlap_tokens=3)
        assert len(out) >= 2
        for prev, cur in zip(out, out[1:]):
            prev_tail = prev["text"].split()[-3:]
            # the previous chunk's own tail tokens must open the next chunk
            assert cur["text"].split()[:len(prev_tail)] == prev_tail or \
                set(prev_tail) <= set(cur["text"].split()[:6])

    def test_strategy_routing_in_chunks_table(self, spark):
        from hades_spark.operators.chunking import chunks_table

        docs = spark.createDataFrame(
            [("d1", self.PARA)], "doc_id string, text string")
        sem = chunks_table(docs, strategy="semantic",
                           max_chunk_size=20, min_chunk_size=2)
        hyb = chunks_table(docs, strategy="hybrid", max_chunk_size=20,
                           min_chunk_size=2, min_overlap_tokens=3)
        tok = chunks_table(docs, chunk_size=20, overlap=5)
        ns, nh, nt = sem.count(), hyb.count(), tok.count()
        assert ns > 0 and nh > 0 and nt > 0
        assert set(sem.columns) == set(tok.columns) == set(hyb.columns)

    def test_unknown_strategy_raises(self, spark):
        import pytest as _pytest

        from hades_spark.operators.chunking import make_strategy_udf

        with _pytest.raises(ValueError):
            make_strategy_udf("nope")


class TestMultimodalOps:
    def _media(self, spark):
        rows = [(f"m{i}", "video" if i % 3 == 2 else "image",
                 bytearray(f"payload-{i}".encode() * (i + 1)))
                for i in range(9)]
        return spark.createDataFrame(
            rows, "media_id string, media_type string, payload binary")

    def test_resize_deterministic(self, spark):
        from hades_spark.functions.multimodal import fake_resize, resize_media

        m = self._media(spark)
        out = {r["media_id"]: bytes(r["payload"])
               for r in resize_media(m, 64, 48).collect()}
        assert len(out) == 9
        for r in m.collect():
            assert out[r["media_id"]] == fake_resize(
                bytes(r["payload"]), 64, 48)
        # different target dims -> different payloads
        out2 = {r["media_id"]: bytes(r["payload"])
                for r in resize_media(m, 128, 96).collect()}
        assert all(out[k] != out2[k] for k in out)

    def test_sample_frames_grid_and_cap(self, spark):
        from hades_spark.functions.multimodal import (
            fake_decode, sample_frames)

        m = self._media(spark)
        frames = sample_frames(m, every_ms=1000, max_frames=10).collect()
        assert frames and all(r["error"] is None for r in frames)
        by_id = {}
        for r in frames:
            by_id.setdefault(r["media_id"], []).append(
                (r["frame_index"], r["ts_ms"]))
        for r in m.collect():
            if r["media_type"] != "video":
                assert r["media_id"] not in by_id
                continue
            dur = fake_decode(bytes(r["payload"]), "video")["duration_ms"]
            want_n = min(dur // 1000 + 1, 10)
            got = sorted(by_id[r["media_id"]])
            assert got == [(i, i * 1000) for i in range(want_n)]

    def test_media_features_normalized(self, spark):
        import numpy as np

        from hades_spark.functions.multimodal import media_features

        m = self._media(spark)
        for r in media_features(m, dim=16).collect():
            v = np.array(r["features"])
            assert v.shape == (16,)
            assert abs(np.linalg.norm(v) - 1.0) < 1e-6


class TestAnnRecall:
    def test_lsh_topk_recall_vs_exact(self, spark):
        # approximate ANN needs a quality bound, not just a rows count:
        # recall@10 of the LSH-bucketed path vs brute force must be high
        # on clustered data (the corpus embeddings are label-clustered)
        from hades_spark.operators.similarity import (
            brute_force_topk, lsh_topk_join)

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        dim = len(emb.select("embedding").first()[0])
        q_ids = [0, 7, 21]
        queries = emb.filter(F.col("vec_id").isin(q_ids)).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        approx = lsh_topk_join(
            queries, emb.select(F.col("vec_id").alias("c_id"),
                                F.col("embedding").alias("c_vec")),
            dim=dim, k=10, n_planes=4, n_tables=16).collect()
        by_q = {}
        for r in approx:
            by_q.setdefault(r["q_id"], set()).add(r["c_id"])
        recalls = []
        for qid in q_ids:
            qv = emb.filter(F.col("vec_id") == qid) \
                    .select("embedding").first()[0]
            exact = {r["vec_id"] for r in
                     brute_force_topk(emb, qv, k=10).collect()}
            got = by_q.get(qid, set())
            recalls.append(len(exact & got) / 10)
        mean_recall = sum(recalls) / len(recalls)
        assert mean_recall >= 0.6, f"ANN mean recall@10 too low: {recalls}"
        # single-table recall on the same data is ~0.1-0.3: the multi-table
        # union is what makes signature LSH usable on weakly-clustered vectors

    def test_default_config_planted_recall(self, spark):
        """The PRODUCTION default (10 planes x 8 tables) is calibrated on
        the 1M-vector sweep (BENCH/BASELINE.md §ANN round 4): recall@10
        >= 0.9 for true near-neighbors (cosine ~0.92) while scoring ~1%
        of the corpus. Same planted-neighbor methodology here at test
        scale; defaults must keep that promise. (The weakly-clustered
        corpus test above uses fewer planes because random top-10
        neighbors at cosine ~0.5 have bucket-collision probability
        p^10 ~ 0.02/table — recall on weak neighbors is a different,
        documented trade.)"""
        import numpy as np

        from hades_spark.operators.similarity import lsh_topk_join

        rng = np.random.RandomState(7)
        dim, n_base, n_q, k = 64, 2000, 5, 10
        base = rng.standard_normal((n_base, dim)).astype(np.float64)
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        qs = base[:n_q].copy()
        rows = [(i, base[i].tolist()) for i in range(n_base)]
        a, b = 0.92, float(np.sqrt(1 - 0.92 ** 2))
        planted: dict[int, set] = {q: set() for q in range(n_q)}
        nid = n_base
        for q in range(n_q):
            for _ in range(k):
                g = rng.standard_normal(dim)
                g /= np.linalg.norm(g)  # unit noise, else b*g swamps a*q
                v = a * qs[q] + b * g
                v /= np.linalg.norm(v)
                rows.append((nid, v.tolist()))
                planted[q].add(nid)
                nid += 1
        cands = spark.createDataFrame(rows, "c_id long, c_vec array<double>")
        queries = spark.createDataFrame(
            [(q, qs[q].tolist()) for q in range(n_q)],
            "q_id long, q_vec array<double>")
        got = lsh_topk_join(queries, cands, dim=dim, k=k).collect()
        hits = sum(1 for r in got if r["c_id"] in planted[r["q_id"]])
        recall = hits / float(n_q * k)
        assert recall >= 0.9, f"default-config planted recall {recall}"



    def test_exact_rescue_pins_row_count(self, spark):
        """exact_rescue=True: every query returns exactly k rows even
        when its LSH buckets are empty of candidates, and rescued rows
        equal the brute-force exact top-k for that query."""
        import numpy as np

        from hades_spark.operators.similarity import (lsh_topk_join,
                                                      topk_join)

        rng = np.random.RandomState(11)
        dim, n_base, k = 32, 400, 5
        base = rng.standard_normal((n_base, dim))
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        cands = spark.createDataFrame(
            [(i, base[i].tolist()) for i in range(n_base)],
            "c_id long, c_vec array<double>")
        qv = rng.standard_normal((6, dim))
        qv /= np.linalg.norm(qv, axis=1, keepdims=True)
        queries = spark.createDataFrame(
            [(q, qv[q].tolist()) for q in range(6)],
            "q_id long, q_vec array<double>")
        # 1 table x many planes: random queries often share NO bucket
        # with any candidate -> starvation is likely; rescue must fill
        got = lsh_topk_join(queries, cands, dim=dim, k=k, n_planes=12,
                            n_tables=1, exact_rescue=True).collect()
        per_q = {}
        for r in got:
            per_q.setdefault(r["q_id"], []).append(r)
        assert set(per_q) == set(range(6))
        exact = topk_join(queries, cands, k=k).collect()
        exact_by_q = {}
        for r in exact:
            exact_by_q.setdefault(r["q_id"], set()).add(r["c_id"])
        for q, rows in per_q.items():
            assert len(rows) == k, (q, len(rows))
            assert len({r["c_id"] for r in rows}) == k  # k DISTINCT hits
        # rescued (starved) queries must be byte-equal to exact top-k:
        # find them by comparing against the no-rescue run
        no_rescue = lsh_topk_join(queries, cands, dim=dim, k=k,
                                  n_planes=12, n_tables=1,
                                  exact_rescue=False).collect()
        nr_by_q = {}
        for r in no_rescue:
            nr_by_q.setdefault(r["q_id"], []).append(r)
        starved = [q for q in range(6) if len(nr_by_q.get(q, [])) < k]
        assert starved, "fixture should starve at least one query"
        for q in starved:
            assert {r["c_id"] for r in per_q[q]} == exact_by_q[q], q

    def test_matched_candidates_shuffle_mode_parity(self, spark):
        """broadcast_queries=False (large query sides) must produce the
        identical candidate set via a shuffle join, with no broadcast of
        the query frame in the plan."""
        import numpy as np

        from hades_spark.operators.similarity import lsh_matched_candidates

        rng = np.random.RandomState(3)
        dim = 16
        vecs = rng.standard_normal((60, dim))
        cands = spark.createDataFrame(
            [(i, vecs[i].tolist()) for i in range(60)],
            "c_id long, c_vec array<double>")
        queries = spark.createDataFrame(
            [(i, vecs[i].tolist()) for i in range(10)],
            "q_id long, q_vec array<double>")
        bc = {(r["_qid"], r["_cid"]) for r in lsh_matched_candidates(
            queries, cands, dim, n_planes=4, n_tables=2).collect()}
        sh_df = lsh_matched_candidates(
            queries, cands, dim, n_planes=4, n_tables=2,
            broadcast_queries=False)
        sh = {(r["_qid"], r["_cid"]) for r in sh_df.collect()}
        assert bc == sh and bc
        # no FORCED broadcast hint on the query side (AQE may still pick
        # a broadcast join on its own for these tiny test frames — the
        # contract is only that the caller's opt-out removes the hint,
        # so a corpus-sized query side is free to shuffle)
        opt = sh_df._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" not in opt
        hinted = lsh_matched_candidates(
            queries, cands, dim, n_planes=4, n_tables=2,
            broadcast_queries=True)
        opt_h = hinted._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" in opt_h



class TestIvf:
    """IVF (k-means inverted-list) ANN — operators/ivf.py."""

    def _frames(self, spark, seed=7, n_clusters=8, per_cluster=60, dim=32,
                spread=0.25):
        import numpy as np

        rng = np.random.RandomState(seed)
        centers = rng.standard_normal((n_clusters, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows, vid = [], 0
        for c in range(n_clusters):
            for _ in range(per_cluster):
                v = centers[c] + spread * rng.standard_normal(dim)
                v /= np.linalg.norm(v)
                rows.append((vid, c, v.tolist()))
                vid += 1
        emb = spark.createDataFrame(
            rows, "vec_id long, cluster int, embedding array<double>")
        return emb, centers

    def test_full_probe_equals_brute_force(self, spark):
        """nprobe == n_centroids is provably exact: every candidate lives
        in exactly one list and all lists are probed — the registered
        query's oracle contract."""
        from hades_spark.operators.ivf import ivf_topk_join, train_centroids
        from hades_spark.operators.similarity import topk_join

        emb, _ = self._frames(spark, per_cluster=40)
        cents = train_centroids(emb, n_centroids=6, sample_rows=500)
        queries = emb.filter(F.col("vec_id") % 37 == 0).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        cands = emb.select(F.col("vec_id").alias("c_id"),
                           F.col("embedding").alias("c_vec"))
        got = sorted(
            (r["q_id"], r["rank"], r["c_id"])
            for r in ivf_topk_join(queries, cands, cents, k=5,
                                   nprobe=6).collect())
        exact = sorted(
            (r["q_id"], r["rank"], r["c_id"])
            for r in topk_join(queries, cands, k=5).collect())
        assert got == exact

    def test_pruned_probe_recall_on_clustered_data(self, spark):
        """nprobe=2 of 8 lists on well-clustered vectors keeps recall@10
        high — the data-dependent pruning IVF exists for."""
        from hades_spark.operators.ivf import ivf_topk_join, train_centroids
        from hades_spark.operators.similarity import topk_join

        emb, _ = self._frames(spark, n_clusters=8, per_cluster=60)
        cents = train_centroids(emb, n_centroids=8, sample_rows=480)
        queries = emb.filter(F.col("vec_id") % 53 == 0).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        cands = emb.select(F.col("vec_id").alias("c_id"),
                           F.col("embedding").alias("c_vec"))
        approx = ivf_topk_join(queries, cands, cents, k=10,
                               nprobe=2).collect()
        by_q: dict = {}
        for r in approx:
            by_q.setdefault(r["q_id"], set()).add(r["c_id"])
        exact = topk_join(queries, cands, k=10).collect()
        ex_by_q: dict = {}
        for r in exact:
            ex_by_q.setdefault(r["q_id"], set()).add(r["c_id"])
        recalls = [len(by_q.get(q, set()) & ex_by_q[q]) / len(ex_by_q[q])
                   for q in ex_by_q]
        mean = sum(recalls) / len(recalls)
        assert mean >= 0.9, f"IVF recall@10 at nprobe=2/8: {recalls}"

    def test_codebook_deterministic_unit_and_reseed(self, spark):
        """Same corpus -> same codebook (xxhash64 sample + seeded init);
        centroids are unit; duplicate-heavy samples (emptied clusters)
        still yield k finite unit centroids via the deterministic
        farthest-point reseed."""
        import numpy as np

        from hades_spark.operators.ivf import train_centroids

        emb, _ = self._frames(spark, per_cluster=30)
        c1 = train_centroids(emb, n_centroids=5, sample_rows=200)
        c2 = train_centroids(emb, n_centroids=5, sample_rows=200)
        assert np.array_equal(c1, c2)
        assert np.allclose(np.linalg.norm(c1, axis=1), 1.0, atol=1e-9)
        # 2 distinct points, 4 centroids: >=2 clusters empty every round
        dup = spark.createDataFrame(
            [(i, [1.0, 0.0, 0.0] if i % 2 else [0.0, 1.0, 0.0])
             for i in range(40)],
            "vec_id long, embedding array<double>")
        cd = train_centroids(dup, n_centroids=4, sample_rows=40)
        assert cd.shape == (4, 3)
        assert np.all(np.isfinite(cd))
        assert np.allclose(np.linalg.norm(cd, axis=1), 1.0, atol=1e-9)

    def test_null_vectors_never_rank(self, spark):
        """A NULL candidate vector is web-scale dirt, not a crash: it
        lands in list 0 with cosine 0.0 and loses to any real match."""
        from hades_spark.operators.ivf import ivf_topk_join, train_centroids

        emb, _ = self._frames(spark, n_clusters=4, per_cluster=20)
        cents = train_centroids(emb, n_centroids=4, sample_rows=80)
        cands = emb.select(
            F.col("vec_id").alias("c_id"),
            F.when(F.col("vec_id") == 3, F.lit(None))
             .otherwise(F.col("embedding")).alias("c_vec"))
        queries = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        got = ivf_topk_join(queries, cands, cents, k=5, nprobe=4).collect()
        assert len(got) == 5
        assert all(r["c_id"] != 3 for r in got)
        assert all(r["score"] > 0 for r in got)

    def test_probe_join_plan_modes(self, spark):
        """Default broadcasts the exploded query side; corpus-vs-corpus
        opt-out degrades to a shuffle join keyed on the centroid id."""
        from hades_spark.operators.ivf import ivf_topk_join, train_centroids

        emb, _ = self._frames(spark, n_clusters=4, per_cluster=20)
        cents = train_centroids(emb, n_centroids=4, sample_rows=80)
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        cands = emb.select(F.col("vec_id").alias("c_id"),
                           F.col("embedding").alias("c_vec"))
        bc = ivf_topk_join(queries, cands, cents, k=3, nprobe=2)
        opt = bc._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" in opt
        sh = ivf_topk_join(queries, cands, cents, k=3, nprobe=2,
                           broadcast_queries=False)
        opt_sh = sh._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" not in opt_sh
        # parity between the two modes
        rows_bc = sorted((r["q_id"], r["rank"], r["c_id"])
                         for r in bc.collect())
        rows_sh = sorted((r["q_id"], r["rank"], r["c_id"])
                         for r in sh.collect())
        assert rows_bc == rows_sh


class TestWlLabels:
    def test_matches_python_twin(self, spark):
        from hades_spark.operators.graph_features import (
            wl_label_py, wl_labels)

        pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("p", "q"),
                 ("q", "r"), ("r", "p")]
        adj = {}
        for s, d in pairs:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
        want = wl_label_py(adj, iterations=2)
        e = spark.createDataFrame(pairs, "src string, dst string")
        got = {r["node"]: r["wl_label"]
               for r in wl_labels(e, iterations=2).collect()}
        assert got == want

    def test_structural_equivalence_detected(self, spark):
        from hades_spark.operators.graph_features import wl_labels

        # two disjoint 3-chains: endpoints match endpoints, middles match
        # middles; the triangle's nodes all share one label distinct from
        # both chain classes
        pairs = [("a", "b"), ("b", "c"),
                 ("u", "v"), ("v", "w"),
                 ("t1", "t2"), ("t2", "t3"), ("t3", "t1")]
        e = spark.createDataFrame(pairs, "src string, dst string")
        lbl = {r["node"]: r["wl_label"]
               for r in wl_labels(e, iterations=2).collect()}
        assert lbl["a"] == lbl["c"] == lbl["u"] == lbl["w"]
        assert lbl["b"] == lbl["v"]
        assert lbl["a"] != lbl["b"]
        assert lbl["t1"] == lbl["t2"] == lbl["t3"]
        assert lbl["t1"] not in (lbl["a"], lbl["b"])


class TestThirdReviewRegressions:
    def test_sample_frames_propagates_decoder_error(self, spark):
        from hades_spark.functions.multimodal import sample_frames

        m = spark.createDataFrame(
            [("v1", "video", None)],
            "media_id string, media_type string, payload binary")
        rows = sample_frames(m).collect()
        assert len(rows) == 1
        assert rows[0]["error"] == "empty payload"
        assert rows[0]["frame_index"] is None  # no fabricated frame

    def test_lang_id_newline_text(self, spark):
        from hades_spark.functions.text_analysis import lang_id_col

        df = spark.createDataFrame(
            [("The cat sat.\nThe dog ran.\nIt was for the best of all.",)],
            "text string")
        assert df.select(lang_id_col(F.col("text")).alias("l")) \
                 .collect()[0]["l"] == "en"

    def test_null_embedding_does_not_crash_topk(self, spark):
        from hades_spark.operators.similarity import topk_join

        qs = spark.createDataFrame(
            [("q1", [1.0, 0.0])], "q_id string, q_vec array<float>")
        cs = spark.createDataFrame(
            [("c1", [1.0, 0.0]), ("c2", None), ("c3", [0.0, 1.0])],
            "c_id string, c_vec array<float>")
        out = {r["c_id"]: r["score"]
               for r in topk_join(qs, cs, k=3).collect()}
        assert out["c2"] == 0.0  # null vector scores 0, task survives
        assert abs(out["c1"] - 1.0) < 1e-6

    def test_simhash_bands_validation(self, spark):
        import pytest as _pytest

        from hades_spark.operators.dedup import simhash_pairs_from_hashes

        h = spark.createDataFrame([("a", 1)], "_id string, _sh long")
        with _pytest.raises(ValueError, match="divide 64"):
            list(simhash_pairs_from_hashes(h, bands=3).collect())
        with _pytest.raises(ValueError, match="max_hamming"):
            list(simhash_pairs_from_hashes(h, bands=4, max_hamming=4)
                 .collect())

    def test_lsh_bands_validation(self, spark):
        import pytest as _pytest

        from hades_spark.operators.lsh import lsh_candidate_pairs, char_shingles

        df = spark.createDataFrame([("a", "abcdef")], "id string, s string")
        with _pytest.raises(ValueError, match="divide"):
            lsh_candidate_pairs(df, "id", char_shingles(F.col("s")),
                                num_hashes=8, bands=16)

    def test_keyword_overlap_token_not_substring(self, spark):
        from hades_spark.operators.search import keyword_overlap_col

        df = spark.createDataFrame(
            [("this aisle displays sparkling water",),
             ("is spark ai here",)],
            "text string")
        got = [r["o"] for r in df.select(
            keyword_overlap_col(F.col("text"), "is spark ai").alias("o"))
            .collect()]
        assert got[0] == 0.0   # substrings must NOT count
        assert got[1] == 1.0   # whole tokens do


class TestNeardupRecall:
    def test_neardup_multi_table_recall_vs_brute_force(self, spark):
        """Pair-recall >= 0.95 at threshold 0.99 on planted near-dups —
        the signature-blocked dedup path must behave like a dedup
        primitive, not a sampler (VERDICT r2 finding 3: one 8-plane table
        misses ~31% of true pairs)."""
        import numpy as np

        from hades_spark.operators.similarity import neardup_pairs

        rng = np.random.RandomState(11)
        dim, n_base, n_planted = 32, 400, 60
        base = rng.standard_normal((n_base, dim)).astype(np.float64)
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        rows = [(f"v{i:04d}", base[i].tolist()) for i in range(n_base)]
        # plant near-dups: tiny perturbation keeps cosine >= 0.99
        for j in range(n_planted):
            v = base[j] + 0.02 * rng.standard_normal(dim)
            v /= np.linalg.norm(v)
            rows.append((f"v{j:04d}_dup", v.tolist()))
        df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")

        # numpy brute-force truth
        ids = [r[0] for r in rows]
        mat = np.array([r[1] for r in rows])
        sims = mat @ mat.T
        truth = {
            (ids[i], ids[j]) if ids[i] < ids[j] else (ids[j], ids[i])
            for i in range(len(ids)) for j in range(i + 1, len(ids))
            if sims[i, j] >= 0.99
        }
        assert len(truth) >= n_planted * 0.9  # sanity: plants survived

        got = {(r["a"], r["b"]) for r in
               neardup_pairs(df, threshold=0.99, dim=dim).collect()}
        # exact-cosine verification: blocked pairs are a SUBSET of truth
        assert got <= truth, sorted(got - truth)[:5]
        recall = len(got & truth) / len(truth)
        assert recall >= 0.95, f"neardup pair-recall too low: {recall}"

    def test_neardup_single_table_would_fail(self, spark):
        """Contrast: n_tables=1 on the same corpus misses a chunk of true
        pairs — documents why the multi-table default exists. (Loose bound:
        just asserts single-table recall is strictly lower or equal and the
        multi-table default found more.)"""
        import numpy as np

        from hades_spark.operators.similarity import neardup_pairs

        rng = np.random.RandomState(11)
        dim = 32
        base = rng.standard_normal((200, dim))
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        rows = [(f"v{i:04d}", base[i].tolist()) for i in range(200)]
        for j in range(40):
            v = base[j] + 0.02 * rng.standard_normal(dim)
            v /= np.linalg.norm(v)
            rows.append((f"v{j:04d}_dup", v.tolist()))
        df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
        one = neardup_pairs(df, threshold=0.99, dim=dim, n_tables=1).count()
        four = neardup_pairs(df, threshold=0.99, dim=dim, n_tables=4).count()
        # STRICT: one 8-plane table provably misses pairs on this
        # deterministic fixture (expected single-table recall ~0.69); if
        # n_tables were ignored the counts would tie and this fails
        assert four > one, (one, four)


class TestShortestPathEarlyExit:
    def test_bfs_stops_at_first_target_hit(self, spark):
        """Early exit (VERDICT r2 finding 1): with the target at depth 1
        and a 6-deep chain continuing past it, the returned visited set
        must contain NO node deeper than the hit level — the loop broke
        instead of expanding to max_depth."""
        from hades_spark.operators.graph import bfs

        chain = [(f"n{i}", f"n{i+1}") for i in range(7)]
        edges = spark.createDataFrame(chain, "src string, dst string")
        seeds = spark.createDataFrame([("n0",)], ["node"])
        reached = bfs(edges, seeds, max_depth=6, stop_at="n1")
        assert reached.agg({"depth": "max"}).collect()[0][0] == 1

    def test_source_equals_target(self, spark):
        from hades_spark.operators.graph import (
            shortest_path, shortest_path_length)

        edges = spark.createDataFrame([("a", "b")], "src string, dst string")
        assert shortest_path_length(edges, "a", "a") == 0
        assert shortest_path(edges, "a", "a") == ["a"]

    def test_walk_back_on_wide_fanout(self, spark):
        """Distributed walk-back (finding 2): path through a graph whose
        reached set is much larger than the path — correctness of the
        one-row-lookup chain."""
        from hades_spark.operators.graph import shortest_path

        rows = [("s", f"mid{i}") for i in range(200)]
        rows += [(f"mid{i}", f"leaf{i}_{j}") for i in range(20)
                 for j in range(10)]
        rows += [("mid7", "t")]
        edges = spark.createDataFrame(rows, "src string, dst string")
        assert shortest_path(edges, "s", "t") == ["s", "mid7", "t"]

    def test_length_early_exit_still_correct(self, spark):
        from hades_spark.operators.graph import shortest_path_length

        rows = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
        edges = spark.createDataFrame(rows, "src string, dst string")
        assert shortest_path_length(edges, "a", "c") == 1
        assert shortest_path_length(edges, "a", "d") == 2
        assert shortest_path_length(edges, "a", "zz") is None


class TestLateChunking:
    """X5: token-slice late chunking (embedders_jina.py:824-940)."""

    def _reference_loop(self, num_tokens, size, overlap):
        # direct transliteration of the reference's span loop (no special
        # tokens): embed_chunks_from_tokens, embedders_jina.py:860-940
        spans, start = [], 0
        while start < num_tokens:
            end = min(start + size, num_tokens)
            spans.append((start, end))
            if end >= num_tokens:
                break
            start = max(end - overlap, 0)
        return spans

    def test_spans_match_reference_loop(self):
        from hades_spark.functions.embedding import late_chunk_spans

        for n in [0, 1, 4, 5, 6, 10, 11, 12, 13, 50, 499, 500, 501, 1200]:
            for size, ov in [(5, 2), (12, 4), (500, 200), (8, 0), (3, 1)]:
                assert late_chunk_spans(n, size, ov) == \
                    self._reference_loop(n, size, ov), (n, size, ov)

    def test_overlap_ge_size_rejected(self):
        import pytest

        from hades_spark.functions.embedding import late_chunk_spans

        with pytest.raises(ValueError):
            late_chunk_spans(100, 5, 5)

    def test_closed_form_start_matches_loop(self):
        # the SQL oracle's closed form start_k = k*(size-overlap),
        # K = ceil((n-size)/step): must equal the loop for every n
        import math

        from hades_spark.functions.embedding import late_chunk_spans

        size, ov = 12, 4
        step = size - ov
        for n in range(1, 300):
            loop = late_chunk_spans(n, size, ov)
            kmax = 0 if n <= size else math.ceil((n - size) / step)
            closed = [(k * step, min(k * step + size, n))
                      for k in range(kmax + 1)]
            assert loop == closed, n

    def test_late_chunk_embed_text_and_pooling(self, spark):
        import numpy as np

        from hades_spark.functions.embedding import (
            HashTokenEmbedder, late_chunk_embed, late_chunk_spans,
            mean_pool_l2)

        text = " ".join(f"tok{i:03d}" for i in range(30))
        docs = spark.createDataFrame([("d1", text), ("d2", "one two"),
                                      ("d3", None)],
                                     "doc_id string, text string")
        out = late_chunk_embed(docs, dim=16, chunk_size_tokens=12,
                               chunk_overlap_tokens=4).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)

        # d3 (null text): no chunks; d2: one chunk covering both tokens
        assert "d3" not in by_doc
        d2 = by_doc["d2"]
        assert len(d2) == 1 and d2[0]["text"] == "one two"

        # d1: spans, text slices, and pooled vectors match a local
        # recomputation over the same backend
        be = HashTokenEmbedder(16)
        offsets, mat = be.encode_tokens(text)
        spans = late_chunk_spans(len(offsets), 12, 4)
        rows = sorted(by_doc["d1"], key=lambda r: r["chunk_index"])
        assert len(rows) == len(spans)
        for r, (s, e) in zip(rows, spans):
            assert (r["start_token"], r["end_token"]) == (s, e)
            sc, ec = offsets[s][0], offsets[e - 1][1]
            assert (r["start_char"], r["end_char"]) == (sc, ec)
            assert r["text"] == text[sc:ec]
            assert r["total_chunks"] == len(spans)
            want = mean_pool_l2(mat[s:e])
            assert np.allclose(np.array(r["embedding"]), want, atol=1e-6)
        # chunk embeddings are L2-normalized
        for r in rows:
            assert abs(np.linalg.norm(np.array(r["embedding"])) - 1) < 1e-5


class TestLinkingShuffleFallback:
    def _fixtures(self, spark):
        mentions = spark.createDataFrame(
            [("m1", "Spark", "u1"), ("m2", "apache spark", "u2"),
             ("m3", "spark", "u3"), ("m4", "nomatch_xyz_qq", "u1"),
             ("m5", "the Spark engine", "u9")],
            "mention_id string, surface string, url string")
        catalog = spark.createDataFrame(
            [("e1", "Spark", "u9"), ("e2", "Apache Spark", "u2"),
             ("e3", "spark streaming", "u3"), ("e4", "Engine", "u4")],
            "entity_id string, name string, source string")
        return mentions, catalog

    def test_shuffle_mode_identical_to_broadcast(self, spark):
        from hades_spark.operators.linking import link_mentions

        mentions, catalog = self._fixtures(spark)
        bc = {tuple(r) for r in
              link_mentions(mentions, catalog).collect()}
        sh = {tuple(r) for r in
              link_mentions(mentions, catalog,
                            broadcast_catalog=False).collect()}
        assert bc == sh and bc

    def test_plan_shapes_per_mode(self, spark):
        from hades_spark.operators.linking import link_mentions

        mentions, catalog = self._fixtures(spark)
        bc_plan = link_mentions(mentions, catalog) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in bc_plan
        sh_plan = link_mentions(mentions, catalog,
                                broadcast_catalog=False) \
            ._jdf.queryExecution().executedPlan().toString()
        # catalog-exceeds-broadcast mode: the candidate join must NOT
        # broadcast the catalog (shuffled hash / sort-merge instead)
        assert "ShuffledHashJoin" in sh_plan or "SortMergeJoin" in sh_plan


class TestPairScoresModes:
    """The verification tail's two physical modes (small-vocabulary
    broadcast vs web-scale shuffle) must agree exactly and take the
    asserted plan shapes — same policy/test pattern as linking's
    catalog-exceeds-broadcast fallback."""

    def _keyed_and_pairs(self, spark):
        from hades_spark.operators.lsh import (char_shingles,
                                               lsh_candidate_pairs)

        surfaces = [
            "apache spark", "apachespark", "apache  spark!", "spark",
            "common crawl", "commoncrawl", "the common crawl corpus",
            "hades", "h a d e s", "knowledge graph", "knowledgegraph",
            "entity linking", "entitylinking", "unrelated thing one",
            "another different surface", "yet more padding text",
        ]
        df = spark.createDataFrame([(s,) for s in surfaces], "squash string") \
            .select(F.regexp_replace("squash", " ", "").alias("_id"))
        keyed = df.dropDuplicates(["_id"]).select(
            "_id", char_shingles(F.col("_id"), 3).alias("sh")) \
            .filter(F.size("sh") > 0).localCheckpoint()
        pairs = lsh_candidate_pairs(keyed, "_id", "sh", num_hashes=16,
                                    bands=16, max_bucket_size=150)
        return keyed, pairs

    def test_broadcast_and_shuffle_modes_identical(self, spark):
        from hades_spark.operators.lsh import pair_scores

        keyed, pairs = self._keyed_and_pairs(spark)
        bc = {(r["a"], r["b"], round(r["score"], 9)) for r in
              pair_scores(pairs, keyed, 0.8, "containment").collect()}
        sh = {(r["a"], r["b"], round(r["score"], 9)) for r in
              pair_scores(pairs, keyed, 0.8, "containment",
                          broadcast_threshold_rows=0).collect()}
        assert bc == sh and bc

    def test_plan_shapes_per_mode(self, spark):
        from hades_spark.operators.lsh import pair_scores

        keyed, pairs = self._keyed_and_pairs(spark)
        bc_plan = pair_scores(pairs, keyed, 0.8, "containment") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in bc_plan
        sh_plan = pair_scores(pairs, keyed, 0.8, "containment",
                              broadcast_threshold_rows=0) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in sh_plan or "SortMergeJoin" in sh_plan


    def test_bytes_gate_forces_shuffle(self, spark):
        """The broadcast gate is byte-estimated: a vocabulary under the
        ROW threshold but over the BYTE threshold must take the shuffle
        path (ADVICE r4: wide shingle arrays => multi-GB broadcast)."""
        from hades_spark.operators.lsh import pair_scores

        keyed, pairs = self._keyed_and_pairs(spark)
        plan = pair_scores(pairs, keyed, 0.8, "containment",
                           broadcast_threshold_bytes=1) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan

    def test_explicit_broadcast_override_skips_probe(self, spark):
        """broadcast=True/False bypasses the sizing aggregate entirely —
        plan construction stays lazy (no Spark job) and the caller's
        choice wins."""
        from hades_spark.operators.lsh import pair_scores

        import pyspark.sql as psql

        keyed, pairs = self._keyed_and_pairs(spark)

        def _boom(self):  # pragma: no cover - failure path
            raise AssertionError("size probe ran despite explicit override")

        orig = psql.DataFrame.first
        psql.DataFrame.first = _boom
        try:
            forced_bc = pair_scores(pairs, keyed, 0.8, "containment",
                                    broadcast=True)
            forced_sh = pair_scores(pairs, keyed, 0.8, "containment",
                                    broadcast=False)
        finally:
            psql.DataFrame.first = orig
        assert "BroadcastHashJoin" in forced_bc._jdf.queryExecution() \
            .executedPlan().toString()
        sh_plan = forced_sh._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in sh_plan or "SortMergeJoin" in sh_plan
        bc = {(r["a"], r["b"]) for r in forced_bc.collect()}
        sh = {(r["a"], r["b"]) for r in forced_sh.collect()}
        assert bc == sh and bc

    def test_hashed_shingle_scores_match_string_sets(self, spark):
        """Scores computed over xxhash64'd shingles must equal the exact
        string-set metric (collision probability ~2^-64): recompute each
        emitted pair's containment in python and compare."""
        from hades_spark.operators.lsh import pair_scores

        keyed, pairs = self._keyed_and_pairs(spark)
        shingle_sets = {r["_id"]: set(r["sh"]) for r in keyed.collect()}
        got = pair_scores(pairs, keyed, 0.8, "containment").collect()
        assert got
        for r in got:
            sa, sb = shingle_sets[r["a"]], shingle_sets[r["b"]]
            want = len(sa & sb) / min(len(sa), len(sb))
            assert abs(r["score"] - want) < 1e-12, (r["a"], r["b"])

    def test_deferred_dedup_parity_both_modes(self, spark):
        """pairs_distinct=False (round-5 scaling fix: the multi-10M-row
        candidate frame never pays its own exchange) must produce the
        IDENTICAL distinct verified set as the legacy distinct-candidate
        path, in broadcast AND shuffle mode — and the candidate frame
        must genuinely carry duplicates for the test to mean anything."""
        from hades_spark.operators.lsh import (cap_and_self_join,
                                               lsh_buckets, pair_scores)

        keyed, pairs = self._keyed_and_pairs(spark)
        buckets = lsh_buckets(keyed, "_id", "sh", num_hashes=16, bands=16)
        dup_pairs = cap_and_self_join(buckets, 150, distinct=False)
        n_dup, n_distinct = dup_pairs.count(), pairs.count()
        assert n_dup > n_distinct  # multi-band collisions really dup

        legacy = {(r["a"], r["b"], round(r["score"], 9)) for r in
                  pair_scores(pairs, keyed, 0.8, "containment").collect()}
        for mode in (True, False):
            got_df = pair_scores(dup_pairs, keyed, 0.8, "containment",
                                 broadcast=mode, pairs_distinct=False)
            got_rows = got_df.collect()
            got = {(r["a"], r["b"], round(r["score"], 9))
                   for r in got_rows}
            assert got == legacy and got, f"mode broadcast={mode}"
            assert len(got_rows) == len(got)  # output distinct

    def test_keep_cols_provenance_parity_both_modes(self, spark):
        """keep_cols=(band, bh): the provenance output's distinct (a, b)
        set must equal the legacy verified set in BOTH join modes, every
        (a, b, band, bh) row must be unique, every provenance bucket must
        really contain both endpoints, and scores must not depend on the
        provenance row (pure function of the pair)."""
        from hades_spark.operators.lsh import (cap_and_self_join,
                                               lsh_buckets, pair_scores)

        keyed, pairs = self._keyed_and_pairs(spark)
        buckets = lsh_buckets(keyed, "_id", "sh", num_hashes=16,
                              bands=16).localCheckpoint()
        prov_cand = cap_and_self_join(buckets, 150, distinct=False,
                                      keep_bucket=True)
        legacy = {(r["a"], r["b"], round(r["score"], 9)) for r in
                  pair_scores(pairs, keyed, 0.8, "containment").collect()}

        membership = {(r["_id"], r["band"], r["bh"])
                      for r in buckets.collect()}
        for mode in (True, False):
            rows = pair_scores(prov_cand, keyed, 0.8, "containment",
                               broadcast=mode, pairs_distinct=False,
                               keep_cols=("band", "bh")).collect()
            quads = {(r["a"], r["b"], r["band"], r["bh"]) for r in rows}
            assert len(rows) == len(quads), "provenance rows not unique"
            got = {(r["a"], r["b"], round(r["score"], 9)) for r in rows}
            assert got == legacy and got, f"mode broadcast={mode}"
            for r in rows:
                assert (r["a"], r["band"], r["bh"]) in membership
                assert (r["b"], r["band"], r["bh"]) in membership


class TestAsofJoin:
    """operators/temporal.asof_join — DuckDB/pandas ASOF semantics from a
    join-free union+window plan."""

    def _data(self, spark):
        left = spark.createDataFrame(
            [(1, 10, "e1"), (1, 25, "e2"), (1, 10, "e1b"),  # equal-ts lefts
             (2, 5, "e3"), (3, 7, "e4"), (2, 100, "e5")],
            "k int, ts int, eid string")
        right = spark.createDataFrame(
            [(1, 10, 1.0), (1, 20, 2.0), (2, 6, 3.0), (4, 1, 4.0)],
            "k int, rts int, v double")
        return left, right

    def _brute(self, left, right, direction, tol=None):
        exp = {}
        for k, ts, eid in left:
            cands = [(rts, v) for (rk, rts, v) in right if rk == k
                     and (rts <= ts if direction == "backward"
                          else rts >= ts)
                     and (tol is None or abs(rts - ts) <= tol)]
            if cands:
                pick = (max(cands) if direction == "backward"
                        else min(cands))
                exp[eid] = pick
            else:
                exp[eid] = (None, None)
        return exp

    @pytest.mark.parametrize("direction", ["backward", "forward"])
    def test_matches_brute_force(self, spark, direction):
        from hades_spark.operators.temporal import asof_join

        left, right = self._data(spark)
        lrows = [(r.k, r.ts, r.eid) for r in left.collect()]
        rrows = [(r.k, r.rts, r.v) for r in right.collect()]
        out = asof_join(left, right, "k", "ts", "rts",
                        direction=direction).collect()
        assert len(out) == len(lrows)
        exp = self._brute(lrows, rrows, direction)
        for r in out:
            assert (r.rts, r.v) == exp[r.eid], (direction, r)

    def test_tolerance_nulls_whole_match(self, spark):
        from pyspark.sql import functions as F

        from hades_spark.operators.temporal import asof_join

        left, right = self._data(spark)
        out = asof_join(left, right, "k", "ts", "rts",
                        tolerance=F.lit(5)).collect()
        exp = self._brute([(r.k, r.ts, r.eid) for r in left.collect()],
                          [(r.k, r.rts, r.v) for r in right.collect()],
                          "backward", tol=5)
        for r in out:
            assert (r.rts, r.v) == exp[r.eid], r
        # e2 (k=1, ts=25): nearest purchase at 20 is within |5| -> kept;
        # e5 (k=2, ts=100): match at 6 is out of tolerance -> BOTH null
        got = {r.eid: (r.rts, r.v) for r in out}
        assert got["e2"] == (20, 2.0)
        assert got["e5"] == (None, None)

    def test_plan_is_join_free_single_exchange(self, spark):
        from hades_spark.operators.temporal import asof_join

        left, right = self._data(spark)
        out = asof_join(left, right, "k", "ts", "rts")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan
        assert plan.count("Exchange") == 1, plan

    def test_column_collision_rejected(self, spark):
        from hades_spark.operators.temporal import asof_join

        left, right = self._data(spark)
        with pytest.raises(ValueError, match="collide"):
            asof_join(left, right.withColumnRenamed("v", "eid"),
                      "k", "ts", "rts")


class TestRangeJoin:
    """operators/temporal.range_join — interval containment via bucketed
    equi-join, never a nested-loop plan."""

    def _data(self, spark):
        pts = spark.createDataFrame(
            [(i, f"p{i}") for i in range(0, 60, 7)], "ts int, pid string")
        ivs = spark.createDataFrame(
            [(0, 10, "w1"), (8, 30, "w2"), (45, 46, "w3"), (7, 8, "w4")],
            "s int, e int, name string")
        return pts, ivs

    def test_matches_brute_force_inner_and_left(self, spark):
        from hades_spark.operators.temporal import range_join

        pts, ivs = self._data(spark)
        prows = [(r.ts, r.pid) for r in pts.collect()]
        irows = [(r.s, r.e, r.name) for r in ivs.collect()]
        exp = {(pid, name) for ts, pid in prows
               for s, e, name in irows if s <= ts < e}
        for w in (1, 5, 64):
            got = {(r.pid, r.name)
                   for r in range_join(pts, ivs, "ts", "s", "e",
                                       bucket_width=w).collect()}
            assert got == exp, w
        lf = range_join(pts, ivs, "ts", "s", "e", bucket_width=5,
                        how="left").collect()
        matched_pids = {pid for pid, _ in exp}
        assert {r.pid for r in lf if r.name is None} == \
            {pid for _, pid in prows} - matched_pids
        assert {(r.pid, r.name) for r in lf if r.name is not None} == exp

    def test_keyed_and_timestamp_axis(self, spark):
        from pyspark.sql import functions as F

        from hades_spark.operators.temporal import range_join

        pts = spark.range(20).select(
            (F.col("id") % 3).alias("k"),
            F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
            F.col("id").alias("pid"))
        ivs = spark.createDataFrame(
            [(0, 0, 7), (1, 5, 50), (2, 100, 200)],
            "k long, sh int, eh int").select(
            "k", F.timestamp_seconds(F.col("sh") * 3600).alias("ws"),
            F.timestamp_seconds(F.col("eh") * 3600).alias("we"))
        out = range_join(pts, ivs, "ts", "ws", "we", on="k",
                         bucket_width=3 * 3600)
        got = {(r.k, r.pid) for r in out.collect()}
        exp = {(i % 3, i) for i in range(20)
               if (i % 3 == 0 and 0 <= i < 7) or (i % 3 == 1 and 5 <= i < 50)}
        assert got == exp

    def test_oversized_interval_fails_loudly(self, spark):
        from hades_spark.operators.temporal import range_join

        pts = spark.createDataFrame([(5, "p")], "ts int, pid string")
        ivs = spark.createDataFrame([(0, 10_000_000, "huge")],
                                    "s int, e int, name string")
        with pytest.raises(Exception, match="buckets"):
            range_join(pts, ivs, "ts", "s", "e", bucket_width=1,
                       max_buckets_per_interval=100).count()

    def test_plan_never_nested_loop(self, spark):
        from hades_spark.operators.temporal import range_join

        pts, ivs = self._data(spark)
        plan = range_join(pts, ivs, "ts", "s", "e", bucket_width=5) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoop" not in plan, plan
        assert "CartesianProduct" not in plan, plan


class TestPagerank:
    """operators/graph.pagerank — synchronous power iteration vs a numpy
    reference, both dangling policies."""

    EDGES = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (4, 3), (2, 4), (1, 5)]

    def _numpy_pr(self, iters, dangling):
        import numpy as np

        n, d = 6, 0.85
        adj: dict = {}
        for s, t in set(self.EDGES):
            adj.setdefault(s, []).append(t)
        p = np.full(n, 1 / n)
        for _ in range(iters):
            nxt = np.full(n, (1 - d) / n)
            for u, ts in adj.items():
                for t in ts:
                    nxt[t] += d * p[u] / len(ts)
            if dangling == "redistribute":
                nxt += d * sum(p[u] for u in range(n) if u not in adj) / n
            p = nxt
        return p

    @pytest.mark.parametrize("dangling", ["redistribute", "ignore"])
    def test_matches_numpy(self, spark, dangling):
        from hades_spark.operators.graph import pagerank

        edges = spark.createDataFrame(self.EDGES, "src int, dst int")
        # iterations=6 crosses the checkpoint_every=4 lineage truncation
        got = {r.node: r.rank
               for r in pagerank(edges, iterations=6,
                                 dangling=dangling).collect()}
        exp = self._numpy_pr(6, dangling)
        assert set(got) == set(range(6))
        for i in range(6):
            assert abs(got[i] - exp[i]) < 1e-12, (i, got[i], exp[i])
        if dangling == "redistribute":
            assert abs(sum(got.values()) - 1.0) < 1e-9

    def test_duplicate_edges_collapse(self, spark):
        from hades_spark.operators.graph import pagerank

        edges = spark.createDataFrame(self.EDGES + self.EDGES,
                                      "src int, dst int")
        got = {r.node: r.rank for r in pagerank(edges,
                                                iterations=3).collect()}
        exp = self._numpy_pr(3, "redistribute")
        for i in range(6):
            assert abs(got[i] - exp[i]) < 1e-12

    def test_empty_graph(self, spark):
        from hades_spark.operators.graph import pagerank

        edges = spark.createDataFrame([], "src int, dst int")
        assert pagerank(edges, iterations=2).count() == 0

    def test_bad_dangling_rejected(self, spark):
        from hades_spark.operators.graph import pagerank

        edges = spark.createDataFrame(self.EDGES, "src int, dst int")
        with pytest.raises(ValueError, match="dangling"):
            pagerank(edges, dangling="drop")


class TestKmvSketch:
    """operators/sketch — KMV distinct sketches: exact branch, estimator
    error bound, lossless merge, set-operation estimates."""

    def test_exact_branch_below_k(self, spark):
        from pyspark.sql import functions as F

        from hades_spark.operators.sketch import kmv_estimate, kmv_sketch

        df = spark.range(10).select(F.lit("g").alias("g"),
                                    F.col("id").alias("v"))
        # duplicates must not inflate the count
        df = df.unionByName(df)
        sk = kmv_sketch(df, "g", "v", k=32)
        assert sk.count() == 10
        est = kmv_estimate(sk, "g", k=32).collect()[0]
        assert est.distinct_est == 10.0

    def test_estimator_error_bound(self, spark):
        from pyspark.sql import functions as F

        from hades_spark.operators.sketch import kmv_estimate, kmv_sketch

        n, k = 5000, 256
        df = spark.range(n).select(F.lit("g").alias("g"),
                                   F.concat(F.lit("url-"), "id").alias("v"))
        est = kmv_estimate(kmv_sketch(df, "g", "v", k=k),
                           "g", k=k).collect()[0].distinct_est
        # std-error ~ 1/sqrt(k-2) = 6.3%; 3 sigma < 20% (deterministic
        # hashes, so this pins one draw, not a tail probability)
        assert abs(est - n) / n < 0.2, est

    def test_union_merge_is_lossless(self, spark):
        from pyspark.sql import functions as F

        from hades_spark.operators.sketch import kmv_sketch, kmv_union

        k = 64
        a = spark.range(0, 3000).select(F.lit("g").alias("g"),
                                        F.col("id").alias("v"))
        b = spark.range(2000, 5000).select(F.lit("g").alias("g"),
                                           F.col("id").alias("v"))
        merged = kmv_union(kmv_sketch(a, "g", "v", k=k),
                           kmv_sketch(b, "g", "v", k=k), "g", k)
        whole = kmv_sketch(a.unionByName(b), "g", "v", k=k)
        assert sorted(r.hu for r in merged.collect()) == \
            sorted(r.hu for r in whole.collect())

    def test_jaccard_and_intersection_estimates(self, spark):
        from pyspark.sql import functions as F

        from hades_spark.operators.sketch import kmv_jaccard, kmv_sketch

        k = 256
        a = spark.range(0, 4000).select(F.lit("g").alias("g"),
                                        F.col("id").alias("v"))
        b = spark.range(2000, 6000).select(F.lit("g").alias("g"),
                                           F.col("id").alias("v"))
        r = kmv_jaccard(kmv_sketch(a, "g", "v", k=k),
                        kmv_sketch(b, "g", "v", k=k), "g", k).collect()[0]
        # truth: |A∪B|=6000, |A∩B|=2000, J=1/3
        assert abs(r.jaccard_est - 1 / 3) < 0.12, r
        assert abs(r.union_est - 6000) / 6000 < 0.2, r
        assert abs(r.intersection_est - 2000) / 2000 < 0.35, r

    def test_exact_jaccard_when_union_fits(self, spark):
        from pyspark.sql import functions as F

        from hades_spark.operators.sketch import kmv_jaccard, kmv_sketch

        k = 64
        a = spark.range(0, 20).select(F.lit("g").alias("g"),
                                      F.col("id").alias("v"))
        b = spark.range(10, 30).select(F.lit("g").alias("g"),
                                       F.col("id").alias("v"))
        r = kmv_jaccard(kmv_sketch(a, "g", "v", k=k),
                        kmv_sketch(b, "g", "v", k=k), "g", k).collect()[0]
        # |A∪B| = 30 < k: the union sketch IS the union — all exact
        assert r.union_est == 30.0
        assert abs(r.jaccard_est - 10 / 30) < 1e-12
        assert abs(r.intersection_est - 10.0) < 1e-9

    def test_groups_kept_separate_and_k_validated(self, spark):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from hades_spark.operators.sketch import kmv_estimate, kmv_sketch

        df = spark.range(100).select(
            (F.col("id") % 2).cast("string").alias("g"),
            F.col("id").alias("v"))
        got = {r.g: r.distinct_est
               for r in kmv_estimate(kmv_sketch(df, "g", "v", k=64),
                                     "g", k=64).collect()}
        assert got == {"0": 50.0, "1": 50.0}
        with _pytest.raises(ValueError, match="k must be"):
            kmv_sketch(df, "g", "v", k=1)


class TestTemporalNullParity:
    """NULLs behave like SQL join predicates (never match), pinned against
    DuckDB on the same rows."""

    def test_asof_null_right_ts_and_null_keys_never_match(self, spark):
        import duckdb

        from hades_spark.operators.temporal import asof_join

        lrows = [(1, 10, "e1"), (None, 10, "e2"), (2, 9, "e3")]
        rrows = [(1, None, 0.1), (1, 5, 0.5), (None, 1, 0.9), (2, 8, 0.8)]
        left = spark.createDataFrame(lrows, "k int, ts int, eid string")
        right = spark.createDataFrame(rrows, "k int, rts int, v double")
        got = {r.eid: (r.rts, r.v)
               for r in asof_join(left, right, "k", "ts", "rts").collect()}

        con = duckdb.connect()
        con.execute("CREATE TABLE l(k int, ts int, eid varchar)")
        con.executemany("INSERT INTO l VALUES (?,?,?)", lrows)
        con.execute("CREATE TABLE r(k int, rts int, v double)")
        con.executemany("INSERT INTO r VALUES (?,?,?)", rrows)
        exp = {eid: (rts, v) for eid, rts, v in con.execute(
            "SELECT l.eid, r.rts, r.v FROM l ASOF LEFT JOIN r "
            "ON l.k = r.k AND l.ts >= r.rts").fetchall()}
        assert got == exp
        assert got["e2"] == (None, None)      # null left key: no match
        assert got["e1"] == (5, 0.5)          # null right ts skipped

    def test_range_join_null_point_and_null_bounds(self, spark):
        from hades_spark.operators.temporal import range_join

        pts = spark.createDataFrame([(5, "p5"), (None, "pn")],
                                    "ts int, pid string")
        ivs = spark.createDataFrame([(0, 10, "w1"), (None, 10, "wn")],
                                    "s int, e int, name string")
        inner = range_join(pts, ivs, "ts", "s", "e", bucket_width=4)
        assert {(r.pid, r.name) for r in inner.collect()} == {("p5", "w1")}
        lf = range_join(pts, ivs, "ts", "s", "e", bucket_width=4, how="left")
        assert {(r.pid, r.name) for r in lf.collect()} == \
            {("p5", "w1"), ("pn", None)}

    def test_pagerank_drops_null_endpoint_edges(self, spark):
        from hades_spark.operators.graph import pagerank

        edges = spark.createDataFrame(
            [(0, 1), (1, 0), (None, 1), (0, None)], "src int, dst int")
        got = {r.node: r.rank for r in pagerank(edges,
                                                iterations=2).collect()}
        assert set(got) == {0, 1}
        assert abs(sum(got.values()) - 1.0) < 1e-12


class TestIntervalJoin:
    """operators/temporal.interval_join — overlap semantics, exactly-once
    pair emission (no dedup shuffle), never a nested-loop plan."""

    def _data(self, spark):
        a = spark.createDataFrame(
            [(0, 10, "a1"), (5, 25, "a2"), (30, 31, "a3"), (7, 8, "a4")],
            "s int, e int, aid string")
        b = spark.createDataFrame(
            [(8, 12, "b1"), (0, 6, "b2"), (24, 40, "b3"), (31, 32, "b4")],
            "ws int, we int, bid string")
        return a, b

    def test_matches_brute_force_across_widths(self, spark):
        from hades_spark.operators.temporal import interval_join

        a, b = self._data(spark)
        arows = [(r.s, r.e, r.aid) for r in a.collect()]
        brows = [(r.ws, r.we, r.bid) for r in b.collect()]
        exp = {(aid, bid) for s, e, aid in arows for ws, we, bid in brows
               if s < we and ws < e}
        for w in (1, 3, 7, 64):
            rows = interval_join(a, b, "s", "e", "ws", "we",
                                 bucket_width=w).collect()
            got = [(r.aid, r.bid) for r in rows]
            # exactly once per pair: the start-bucket filter IS the dedup
            assert len(got) == len(set(got)), (w, got)
            assert set(got) == exp, w

    def test_keyed_overlap(self, spark):
        from hades_spark.operators.temporal import interval_join

        a = spark.createDataFrame(
            [(1, 0, 10, "a1"), (2, 0, 10, "a2")], "k int, s int, e int, aid string")
        b = spark.createDataFrame(
            [(1, 5, 6, "b1"), (2, 50, 60, "b2")], "k int, ws int, we int, bid string")
        got = {(r.aid, r.bid)
               for r in interval_join(a, b, "s", "e", "ws", "we", on="k",
                                      bucket_width=4).collect()}
        assert got == {("a1", "b1")}

    def test_plan_no_nested_loop(self, spark):
        from hades_spark.operators.temporal import interval_join

        a, b = self._data(spark)
        plan = interval_join(a, b, "s", "e", "ws", "we", bucket_width=4) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoop" not in plan, plan
        assert "CartesianProduct" not in plan, plan


class TestTemporalFuzz:
    """Hypothesis property fuzz: asof_join and interval_join equal their
    Python brute-force definitions on arbitrary small tables (keys
    collide, timestamps tie, sides go empty)."""

    def test_asof_join_property(self, spark):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from hades_spark.operators.temporal import asof_join

        # timestamps include None: SQL ASOF comparisons with NULL never
        # match on either side (a fuzz gap the session-10 review caught)
        lrow = st.tuples(st.integers(0, 3),
                         st.one_of(st.none(), st.integers(0, 30)))
        rrow = st.tuples(st.integers(0, 3),
                         st.one_of(st.none(), st.integers(0, 30)),
                         st.integers(0, 99))

        @settings(max_examples=12, deadline=None)
        @given(lrows=st.lists(lrow, max_size=10),
               rrows=st.lists(rrow, max_size=10),
               direction=st.sampled_from(["backward", "forward"]))
        def run(lrows, rrows, direction):
            # operator contract: right unique per (key, ts)
            rmap = {(k, ts): v for k, ts, v in rrows}
            rrows = [(k, ts, v) for (k, ts), v in rmap.items()]
            left = spark.createDataFrame(
                [(k, ts, i) for i, (k, ts) in enumerate(lrows)],
                "k int, ts int, lid int")
            right = spark.createDataFrame(rrows, "k int, rts int, v int") \
                if rrows else spark.createDataFrame([], "k int, rts int, v int")
            got = {r.lid: (r.rts, r.v)
                   for r in asof_join(left, right, "k", "ts",
                                      "rts", direction=direction).collect()}
            assert set(got) == set(range(len(lrows)))
            for i, (k, ts) in enumerate(lrows):
                cand = [(rts, v) for rk, rts, v in rrows
                        if rk == k and rts is not None and ts is not None
                        and (rts <= ts if direction == "backward"
                             else rts >= ts)]
                exp = ((max(cand) if direction == "backward" else min(cand))
                       if cand else (None, None))
                assert got[i] == exp, (i, k, ts, direction, got[i], exp)

        run()

    def test_interval_join_property(self, spark):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from hades_spark.operators.temporal import interval_join

        iv = st.tuples(st.integers(-5, 25), st.integers(0, 10))

        @settings(max_examples=12, deadline=None)
        @given(avs=st.lists(iv, max_size=8), bvs=st.lists(iv, max_size=8),
               w=st.sampled_from([1, 2, 5, 16]))
        def run(avs, bvs, w):
            arows = [(s, s + d, i) for i, (s, d) in enumerate(avs)]
            brows = [(s, s + d, i) for i, (s, d) in enumerate(bvs)]
            a = spark.createDataFrame(arows, "s int, e int, aid int") \
                if arows else spark.createDataFrame([], "s int, e int, aid int")
            b = spark.createDataFrame(brows, "ws int, we int, bid int") \
                if brows else spark.createDataFrame(
                    [], "ws int, we int, bid int")
            got = [(r.aid, r.bid)
                   for r in interval_join(a, b, "s", "e", "ws", "we",
                                          bucket_width=w).collect()]
            exp = {(aid, bid) for s, e, aid in arows for ws, we, bid in brows
                   if s < we and ws < e}
            assert len(got) == len(set(got)), (w, got)
            assert set(got) == exp, (w, got, exp)

        run()


class TestWeightedShortestPaths:
    """operators/graph.weighted_shortest_paths — bounded-hop Bellman-Ford
    vs a Python brute force."""

    EDGES = [(0, 1, 5.0), (0, 2, 1.0), (2, 1, 1.0), (1, 3, 1.0),
             (2, 3, 10.0), (3, 4, 1.0), (5, 0, 2.0),
             (0, 2, 7.0)]  # parallel edge: min must win

    def _brute(self, seeds, hops):
        best = {s: 0.0 for s in seeds}
        emin: dict = {}
        for s, d, w in self.EDGES:
            emin[(s, d)] = min(w, emin.get((s, d), w))
        for _ in range(hops):
            nxt = dict(best)
            for (s, d), w in emin.items():
                if s in best and best[s] + w < nxt.get(d, float("inf")):
                    nxt[d] = best[s] + w
            best = nxt
        return best

    @pytest.mark.parametrize("hops", [1, 2, 4])
    def test_matches_brute_force(self, spark, hops):
        from hades_spark.operators.graph import weighted_shortest_paths

        edges = spark.createDataFrame(self.EDGES,
                                      "src int, dst int, weight double")
        seeds = spark.createDataFrame([(0,)], "node int")
        got = {r.node: r.distance
               for r in weighted_shortest_paths(edges, seeds,
                                                max_hops=hops).collect()}
        assert got == self._brute({0}, hops), hops
        # node 5 only reaches 0, never the other way: must be absent
        assert 5 not in got

    def test_multi_seed_takes_min(self, spark):
        from hades_spark.operators.graph import weighted_shortest_paths

        edges = spark.createDataFrame(self.EDGES,
                                      "src int, dst int, weight double")
        seeds = spark.createDataFrame([(0,), (5,), (5,)], "node int")
        got = {r.node: r.distance
               for r in weighted_shortest_paths(edges, seeds,
                                                max_hops=3).collect()}
        assert got == self._brute({0, 5}, 3)
        assert got[5] == 0.0

    def test_null_rows_ignored(self, spark):
        from hades_spark.operators.graph import weighted_shortest_paths

        edges = spark.createDataFrame(
            self.EDGES + [(0, None, 1.0), (None, 1, 1.0), (0, 4, None)],
            "src int, dst int, weight double")
        seeds = spark.createDataFrame([(0,)], "node int")
        got = {r.node: r.distance
               for r in weighted_shortest_paths(edges, seeds,
                                                max_hops=4).collect()}
        assert got == self._brute({0}, 4)


class TestReviewRegressions:
    """Regressions from the round-5 session-10 code review."""

    def test_asof_forward_null_left_ts_never_matches(self, spark):
        from hades_spark.operators.temporal import asof_join

        left = spark.createDataFrame([(1, None, "e1"), (1, 4, "e2")],
                                     "k int, ts int, eid string")
        right = spark.createDataFrame([(1, 5, 0.5), (1, 20, 2.0)],
                                      "k int, rts int, v double")
        for direction in ("forward", "backward"):
            got = {r.eid: (r.rts, r.v)
                   for r in asof_join(left, right, "k", "ts", "rts",
                                      direction=direction).collect()}
            assert got["e1"] == (None, None), direction
        fwd = {r.eid: (r.rts, r.v)
               for r in asof_join(left, right, "k", "ts", "rts",
                                  direction="forward").collect()}
        assert fwd["e2"] == (5, 0.5)

    def test_range_join_left_null_payload_not_duplicated(self, spark):
        from hades_spark.operators.temporal import range_join

        pts = spark.createDataFrame([(5, None), (50, "x")],
                                    "ts int, pid string")
        ivs = spark.createDataFrame([(0, 10, "w1")],
                                    "s int, e int, name string")
        rows = range_join(pts, ivs, "ts", "s", "e", bucket_width=4,
                          how="left").collect()
        # the NULL-payload matched point must appear EXACTLY once (as a
        # match), the unmatched point exactly once (as a miss)
        assert sorted((r.ts, r.pid, r.name) for r in rows) == \
            [(5, None, "w1"), (50, "x", None)]

    def test_pagerank_checkpoint_every_validated(self, spark):
        from hades_spark.operators.graph import pagerank

        edges = spark.createDataFrame([(0, 1)], "src int, dst int")
        with pytest.raises(ValueError, match="checkpoint_every"):
            pagerank(edges, checkpoint_every=0)

    def test_kmv_union_validates_k(self, spark):
        from pyspark.sql import functions as F

        from hades_spark.operators.sketch import kmv_sketch, kmv_union

        df = spark.range(5).select(F.lit("g").alias("g"),
                                   F.col("id").alias("v"))
        sk = kmv_sketch(df, "g", "v", k=8)
        with pytest.raises(ValueError, match="k must be"):
            kmv_union(sk, sk, "g", k=1)


class TestCmsSketch:
    """Count-min: one-sided error, exactness at wide width, merge == concat
    sketch, deterministic heavy-hitter readout."""

    def _stream(self, spark, counts: dict[str, int]):
        rows = [(v,) for v, n in counts.items() for _ in range(n)]
        return spark.createDataFrame(rows, "val string")

    def test_estimates_one_sided_and_exact_when_wide(self, spark):
        from hades_spark.operators.sketch import cms_estimate, cms_sketch

        counts = {f"v{i}": (i % 7) + 1 for i in range(50)}
        df = self._stream(spark, counts)
        # width >> distinct: no collisions possible to force, but one-sided
        # error must hold regardless; at width 8192 estimates are exact whp
        sk = cms_sketch(df, "val", depth=4, width=8192)
        est = {r["val"]: r["est_count"]
               for r in cms_estimate(sk, df, "val", 4, 8192).collect()}
        assert set(est) == set(counts)
        for v, true in counts.items():
            assert est[v] >= true          # never underestimates
            assert est[v] == true          # wide sketch: exact

    def test_narrow_width_overestimates_never_under(self, spark):
        from hades_spark.operators.sketch import cms_estimate, cms_sketch

        counts = {f"k{i}": 3 for i in range(200)}
        df = self._stream(spark, counts)
        sk = cms_sketch(df, "val", depth=3, width=16)  # heavy collisions
        est = cms_estimate(sk, df, "val", 3, 16).collect()
        assert all(r["est_count"] >= 3 for r in est)
        assert any(r["est_count"] > 3 for r in est)  # collisions visible

    def test_merge_equals_concatenated_stream(self, spark):
        from hades_spark.operators.sketch import cms_merge, cms_sketch

        a = self._stream(spark, {"x": 5, "y": 2})
        b = self._stream(spark, {"y": 4, "z": 1})
        merged = cms_merge(cms_sketch(a, "val", 4, 64),
                           cms_sketch(b, "val", 4, 64))
        whole = cms_sketch(a.unionByName(b), "val", 4, 64)
        m = {(r["r"], r["bucket"]): r["cnt"] for r in merged.collect()}
        w = {(r["r"], r["bucket"]): r["cnt"] for r in whole.collect()}
        assert m == w

    def test_heavy_hitters_match_exact_topk(self, spark):
        from hades_spark.operators.sketch import cms_heavy_hitters

        counts = {f"h{i:02d}": 100 - i for i in range(30)}
        df = self._stream(spark, counts)
        out = cms_heavy_hitters(df, "val", k=5, depth=4, width=4096).collect()
        assert [(r["val"], r["est_count"]) for r in out] == [
            (f"h{i:02d}", 100 - i) for i in range(5)]

    def test_null_values_ignored_and_validation(self, spark):
        import pytest as _pt

        from hades_spark.operators.sketch import cms_sketch

        df = spark.createDataFrame([("a",), (None,)], "val string")
        total = (cms_sketch(df, "val", 2, 32)
                 .agg({"cnt": "sum"}).collect()[0][0])
        assert total == 2  # one occurrence x depth 2; NULL contributed none
        with _pt.raises(ValueError):
            cms_sketch(df, "val", 0, 32)
        with _pt.raises(ValueError):
            cms_sketch(df, "val", 4, 1)


class TestDeterministicSampling:
    def _docs(self, spark, n=2000):
        from pyspark.sql import functions as F
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).cast("string").alias("grp"))

    def test_reproducible_and_partitioning_invariant(self, spark):
        from hades_spark.operators.sampling import deterministic_sample

        df = self._docs(spark)
        keep1 = {r["doc_id"] for r in
                 deterministic_sample(df, "doc_id", 0.3, seed=1).collect()}
        keep2 = {r["doc_id"] for r in
                 deterministic_sample(df.repartition(13), "doc_id", 0.3,
                                      seed=1).collect()}
        assert keep1 == keep2 and len(keep1) > 0

    def test_fraction_within_3_sigma(self, spark):
        from hades_spark.operators.sampling import deterministic_sample

        n, frac = 2000, 0.3
        got = deterministic_sample(self._docs(spark, n), "doc_id",
                                   frac, seed=2).count()
        sigma = (n * frac * (1 - frac)) ** 0.5
        assert abs(got - n * frac) <= 3 * sigma

    def test_monotone_in_fraction(self, spark):
        from hades_spark.operators.sampling import deterministic_sample

        df = self._docs(spark, 500)
        small = {r["doc_id"] for r in
                 deterministic_sample(df, "doc_id", 0.1, seed=3).collect()}
        large = {r["doc_id"] for r in
                 deterministic_sample(df, "doc_id", 0.4, seed=3).collect()}
        assert small <= large

    def test_consistent_across_tables(self, spark):
        from pyspark.sql import functions as F

        from hades_spark.operators.sampling import deterministic_sample

        docs = self._docs(spark, 300)
        chunks = docs.select("doc_id").withColumn(
            "chunk", F.explode(F.array(F.lit(0), F.lit(1))))
        kept_docs = {r["doc_id"] for r in
                     deterministic_sample(docs, "doc_id", 0.25, 5).collect()}
        kept_chunk_docs = {r["doc_id"] for r in deterministic_sample(
            chunks, "doc_id", 0.25, 5).collect()}
        assert kept_docs == kept_chunk_docs

    def test_stratified_fractions_and_default(self, spark):
        from hades_spark.operators.sampling import (deterministic_sample,
                                                    stratified_mix)

        df = self._docs(spark, 4000)  # groups 0..3, 1000 keys each
        out = stratified_mix(df, "doc_id", "grp",
                             {"0": 1.0, "1": 0.5, "2": 0.0},
                             default_fraction=0.2, seed=9)
        by = {r["grp"]: r["cnt"] for r in
              out.groupBy("grp").agg(
                  __import__("pyspark.sql.functions",
                             fromlist=["count"]).count("*").alias("cnt"))
              .collect()}
        assert by.get("0") == 1000          # fraction 1.0: everything
        assert "2" not in by                # fraction 0.0: nothing
        for g, frac, n in [("1", 0.5, 1000), ("3", 0.2, 1000)]:
            sigma = (n * frac * (1 - frac)) ** 0.5
            assert abs(by[g] - n * frac) <= 3 * sigma
        # a group's kept set == plain sample at that fraction (same gate)
        only1 = {r["doc_id"] for r in out.filter("grp = '1'").collect()}
        plain = {r["doc_id"] for r in deterministic_sample(
            df.filter("grp = '1'"), "doc_id", 0.5, seed=9).collect()}
        assert only1 == plain

    def test_fraction_validation(self, spark):
        import pytest as _pt

        from hades_spark.operators.sampling import deterministic_sample

        with _pt.raises(ValueError):
            deterministic_sample(self._docs(spark, 10), "doc_id", 1.5)

    def test_gate_pushes_to_scan(self, spark, tmp_path):
        # the gate is a plain predicate: it must appear in the scan's
        # PushedFilters-adjacent Filter, with NO Exchange and NO UDF
        from hades_spark.operators.sampling import deterministic_sample

        p = str(tmp_path / "docs")
        self._docs(spark, 100).write.parquet(p)
        plan = deterministic_sample(
            spark.read.parquet(p), "doc_id", 0.5)._jdf \
            .queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


class TestResolveSurvivors:
    def _pairs(self, spark, edges):
        return spark.createDataFrame(edges, "a long, b long")

    def test_longest_survivor_per_cluster(self, spark):
        from pyspark.sql import functions as F

        from hades_spark.operators.dedup import resolve_survivors

        docs = spark.createDataFrame(
            [(1, 10), (2, 30), (3, 30), (4, 5), (7, 9)],
            "doc_id long, n_tokens long")
        pairs = self._pairs(spark, [(1, 2), (2, 3)])
        out = {r["component"]: (r["doc_id"], r["cluster_size"])
               for r in resolve_survivors(
                   docs, "doc_id", pairs,
                   [F.col("n_tokens"), -F.col("doc_id")]).collect()}
        # cluster {1,2,3}: max tokens 30 tied between 2 and 3 -> min id 2
        assert out == {1: (2, 3), 4: (4, 1), 7: (7, 1)}

    def test_both_cc_paths_agree(self, spark):
        from pyspark.sql import functions as F

        from hades_spark.operators.dedup import resolve_survivors

        docs = spark.createDataFrame(
            [(i, i % 13) for i in range(60)], "doc_id long, n_tokens long")
        pairs = self._pairs(
            spark, [(i, i + 1) for i in range(0, 40, 2)])  # 20 two-clusters
        a = resolve_survivors(docs, "doc_id", pairs,
                              [F.col("n_tokens"), -F.col("doc_id")],
                              local_threshold=1_000_000)
        b = resolve_survivors(docs, "doc_id", pairs,
                              [F.col("n_tokens"), -F.col("doc_id")],
                              local_threshold=0)
        assert sorted(map(tuple, a.collect())) == \
            sorted(map(tuple, b.collect()))

    def test_partition_of_corpus(self, spark):
        # cluster sizes sum to |docs|; every doc is in exactly one cluster
        from pyspark.sql import functions as F

        from hades_spark.operators.dedup import resolve_survivors

        docs = spark.createDataFrame(
            [(i, 1) for i in range(30)], "doc_id long, n_tokens long")
        pairs = self._pairs(spark, [(0, 1), (1, 2), (5, 6)])
        out = resolve_survivors(docs, "doc_id", pairs,
                                [F.col("n_tokens"), -F.col("doc_id")])
        rows = out.collect()
        assert sum(r["cluster_size"] for r in rows) == 30
        assert len(rows) == 30 - 3  # two merges in {0,1,2}, one in {5,6}


class TestBloomSemiJoin:
    """Bloom runtime-filter pruning: exactness after confirm, fp-rate
    bound on candidates, bitmap layout, null/empty edges, validation."""

    def _sides(self, spark, n_big=4000, step=11):
        big = spark.range(n_big).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("v"))
        small = spark.range(0, n_big, step).select(F.col("id").alias("sk"))
        return big, small

    def test_exact_vs_plain_semi_join(self, spark):
        from hades_spark.operators.bloom import bloom_semi_join

        big, small = self._sides(spark)
        out = bloom_semi_join(big, small, "k", "sk",
                              n_bits=1 << 13, n_hashes=5)
        ref = big.join(small.withColumnRenamed("sk", "k"), "k", "left_semi")
        assert sorted(map(tuple, out.collect())) == \
            sorted(map(tuple, ref.collect()))

    def test_candidates_superset_and_fp_bounded(self, spark):
        from hades_spark.operators.bloom import bloom_semi_join

        big, small = self._sides(spark)
        matches = big.join(
            small.withColumnRenamed("sk", "k"), "k", "left_semi").count()
        cand = bloom_semi_join(big, small, "k", "sk", n_bits=1 << 13,
                               n_hashes=5, confirm=False)
        n_cand = cand.count()
        assert n_cand >= matches  # no false negatives, ever
        # theory: n=364 keys, m=8192 bits, j=5 -> fp = (1-e^{-jn/m})^5
        import math
        n_keys, m, j = small.count(), 1 << 13, 5
        fp = (1 - math.exp(-j * n_keys / m)) ** j
        budget = (big.count() - matches) * max(fp * 5, 0.01)
        assert n_cand - matches <= budget

    def test_null_keys_both_sides(self, spark):
        from hades_spark.operators.bloom import bloom_semi_join

        big, small = self._sides(spark, n_big=500, step=7)
        bn = big.withColumn("k", F.when(F.col("k") % 2 == 0, F.col("k")))
        sn = small.withColumn("sk", F.when(F.col("sk") % 3 == 0,
                                           F.col("sk")))
        out = bloom_semi_join(bn, sn, "k", "sk", n_bits=1 << 10)
        ref = bn.join(sn.withColumnRenamed("sk", "k"), "k", "left_semi")
        assert sorted(r["k"] for r in out.collect()) == \
            sorted(r["k"] for r in ref.collect())
        # NULL never matches (semi-join semantics), even unconfirmed
        cand = bloom_semi_join(bn, sn, "k", "sk", n_bits=1 << 10,
                               confirm=False)
        assert cand.filter(F.col("k").isNull()).count() == 0

    def test_empty_small_side_prunes_everything(self, spark):
        from hades_spark.operators.bloom import bloom_semi_join

        big, small = self._sides(spark, n_big=200)
        empty = small.filter(F.lit(False))
        assert bloom_semi_join(big, empty, "k", "sk").count() == 0
        assert bloom_semi_join(big, empty, "k", "sk",
                               confirm=False).count() == 0

    def test_bitmap_matches_reference_layout(self, spark):
        # every built word must equal the OR of the masks of the distinct
        # key positions computed independently row-at-a-time
        from hades_spark.operators.bloom import bloom_build

        n_bits, n_hashes = 1 << 9, 3
        keys = spark.range(0, 97, 3).select(F.col("id").alias("k"))
        words = bloom_build(keys, "k", n_bits, n_hashes).collect()[0][0]
        pos = keys.select(F.explode(F.array(*[
            F.pmod(F.xxhash64(F.lit(i), F.col("k")), F.lit(n_bits))
            for i in range(n_hashes)])).alias("p")).collect()
        expect: dict[int, int] = {}
        for r in pos:
            w, b = divmod(int(r["p"]), 64)
            expect[w] = expect.get(w, 0) | (1 << b)

        def signed(x):  # java long wraps
            return x - (1 << 64) if x >= (1 << 63) else x

        assert words == {w: signed(m) for w, m in expect.items()}

    def test_validation(self, spark):
        from hades_spark.operators.bloom import bloom_build, bloom_semi_join

        big, small = self._sides(spark, n_big=10)
        with pytest.raises(ValueError, match="multiple of 64"):
            bloom_semi_join(big, small, "k", "sk", n_bits=100)
        with pytest.raises(ValueError, match="n_hashes"):
            bloom_semi_join(big, small, "k", "sk", n_hashes=0)
        with pytest.warns(RuntimeWarning, match="large broadcast"):
            bloom_build(small, "sk", n_bits=1 << 28)

    def test_probe_runs_before_exchange(self, spark):
        # the candidate plan must contain the getbit probe but NO shuffle
        # of the big side: only the bloom build's own tiny exchanges
        from hades_spark.operators.bloom import bloom_semi_join

        big, small = self._sides(spark)
        cand = bloom_semi_join(big, small, "k", "sk", confirm=False)
        plan = cand._jdf.queryExecution().executedPlan().toString()
        assert "getbit" in plan
        # exchanges present belong to the word/map aggregation (keyed on
        # w / SinglePartition), never on the big side's key k
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                assert "(k#" not in line and "k#" not in line.split(
                    "hashpartitioning", 1)[1].split(")")[0]


class TestCurateCorpus:
    """End-to-end curation composition: each stage's effect isolated on
    crafted docs, plus mix monotonicity."""

    def _docs(self, spark):
        good = ("the quick brown fox jumps over the lazy dog and then "
                "runs far away into the quiet green hills. " * 3)
        near = good.replace("quiet green hills", "quiet grey hills")
        rows = [
            (1, "en", good),                      # survives to near-dup
            (2, "en", good + " extra tail words here."),  # near-dup, LONGER
            (3, "en", "  " + good.upper()),       # exact dup AFTER normalize
            (4, "en", good),                      # exact dup of 1
            (5, "de", near),                      # near-dup of 1/2 cluster
            (6, "de", "short."),                  # scores 0.7: quality gate
        ]
        return spark.createDataFrame(
            rows, "doc_id long, lang string, text string")

    def test_stage_effects(self, spark):
        from hades_spark.pipeline.curation import curate_corpus

        out = curate_corpus(self._docs(spark), min_quality=0.8,
                            neardup_threshold=0.5, num_hashes=32, bands=32)
        kept = {r["doc_id"]: r for r in out.collect()}
        # 6 fails quality (0.7 < 0.8); 3, 4 are exact dups of 1 under
        # whitespace/case normalization; {1,2,5} cluster and the LONGEST
        # member (2) survives
        assert set(kept) == {2}
        assert kept[2]["lang"] == "en" and kept[2]["quality"] >= 0.7

    def test_no_neardups_keeps_all_distinct(self, spark):
        from hades_spark.pipeline.curation import curate_corpus

        base = ("a sensible paragraph about topic %d with punctuation, "
                "moderate length words and calm casing. ")
        docs = spark.createDataFrame(
            [(i, "en", (base % i) * 4) for i in range(8)],
            "doc_id long, lang string, text string")
        out = curate_corpus(docs, neardup_threshold=0.95,
                            num_hashes=32, bands=32)
        # %d substitution makes each doc distinct; at 0.95 these highly
        # similar docs still cluster — verify against the exact rule
        from hades_spark.operators.dedup import minhash_dedup_pairs
        n_pairs = minhash_dedup_pairs(
            docs, "doc_id", "text", threshold=0.95,
            num_hashes=32, bands=32).count()
        if n_pairs == 0:
            assert out.count() == 8
        else:
            assert out.count() < 8

    def test_mix_subset_monotone(self, spark):
        from hades_spark.pipeline.curation import curate_corpus

        base = ("document number %d talks about climate, rivers and "
                "mountain paths in plain words. ")
        docs = spark.createDataFrame(
            [(i, ["en", "de"][i % 2], (base % (i * 997)) * 4)
             for i in range(40)],
            "doc_id long, lang string, text string")
        full = curate_corpus(docs, mix_fractions={"en": 1.0, "de": 1.0},
                             seed=3, num_hashes=32, bands=32)
        half = curate_corpus(docs, mix_fractions={"en": 0.5, "de": 1.0},
                             seed=3, num_hashes=32, bands=32)
        f = {r["doc_id"] for r in full.collect()}
        h = {r["doc_id"] for r in half.collect()}
        assert h <= f
        de_f = {r["doc_id"] for r in full.filter("lang='de'").collect()}
        de_h = {r["doc_id"] for r in half.filter("lang='de'").collect()}
        assert de_f == de_h  # de fraction unchanged -> identical keep set


class TestHistQuantiles:
    """Equi-width histogram quantiles: accuracy within bin width, merge
    == whole, degenerate/dirty inputs, no-sort plan shape."""

    def _uniform(self, spark, n=10_000):
        return spark.range(n).select(F.col("id").cast("double").alias("x"))

    def test_accuracy_within_bin_width(self, spark):
        from hades_spark.operators.quantile import approx_quantiles

        df = self._uniform(spark)
        out = {r["q"]: r["value"] for r in approx_quantiles(
            df, "x", [0.0, 0.1, 0.5, 0.9, 1.0], n_bins=256).collect()}
        assert set(out) == {0.0, 0.1, 0.5, 0.9, 1.0}
        for q, v in out.items():
            assert abs(v - q * 9999) <= 9999 / 256 + 1e-6

    def test_merge_equals_whole(self, spark):
        from hades_spark.operators.quantile import (hist_build, hist_frame,
                                                    hist_merge)

        df = self._uniform(spark, 4000)
        fr = hist_frame(df, "x", 128)
        a, b = df.filter("x < 1500"), df.filter("x >= 1500")
        merged = hist_merge(hist_build(a, "x", fr, 128),
                            hist_build(b, "x", fr, 128))
        whole = hist_build(df, "x", fr, 128)
        assert sorted(map(tuple, merged.collect())) == \
            sorted(map(tuple, whole.collect()))

    def test_out_of_frame_rows_clamp_to_edges(self, spark):
        # a later batch exceeding the frame range lands in the edge bins
        # (mergeability holds; error is visible, not silent corruption)
        from hades_spark.operators.quantile import hist_build, hist_frame

        base = self._uniform(spark, 1000)
        fr = hist_frame(base, "x", 64)
        wild = spark.createDataFrame([(-50.0,), (2000.0,)], "x double")
        h = {r["bin"]: r["cnt"] for r in
             hist_build(wild, "x", fr, 64).collect()}
        assert h == {0: 1, 63: 1}

    def test_degenerate_and_dirty(self, spark):
        from hades_spark.operators.quantile import approx_quantiles

        one = spark.createDataFrame([(7.5,)] * 9, "x double")
        out = approx_quantiles(one, "x", [0.2, 0.8], 64).collect()
        assert all(abs(r["value"] - 7.5) < 1e-9 for r in out)
        dirty = self._uniform(spark).unionByName(
            spark.createDataFrame([(None,), (float("nan"),)], "x double"))
        med = approx_quantiles(dirty, "x", [0.5], 256).collect()[0]["value"]
        assert abs(med - 4999.5) <= 9999 / 256

    def test_validation(self, spark):
        from hades_spark.operators.quantile import approx_quantiles

        df = self._uniform(spark, 10)
        with pytest.raises(ValueError, match="n_bins"):
            approx_quantiles(df, "x", [0.5], n_bins=1)
        with pytest.raises(ValueError, match="quantile"):
            approx_quantiles(df, "x", [1.5])

    def test_no_global_sort_in_plan(self, spark):
        # the whole point: no rangepartitioning exchange anywhere — the
        # only data-sized shuffle is the <=n_bins-row groupBy(bin)
        from hades_spark.operators.quantile import approx_quantiles

        df = self._uniform(spark)
        out = approx_quantiles(df, "x", [0.5], 512)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan


class TestUrlFunctions:
    """functions/urls.py — canonicalization rules on urls nastier than the
    oracle query constructs (userinfo, odd ports, bare hosts, invalid,
    NULL), plus idempotence: normalize is a fixed point of itself."""

    def _norm(self, spark, urls):
        from hades_spark.functions.urls import url_normalize
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        return [r[0] for r in df.select(url_normalize("url")).collect()]

    def test_rules(self, spark):
        got = self._norm(spark, [
            "HTTPS://WWW.Site.CO.UK:443/Docs//7/?utm_source=x&b=2&a=1#f",
            "http://User:Pw@H.com:80/p",
            "https://h.com:8080/p?x=1&",          # non-default port kept
            "http://h.com",                        # empty path -> /
            "http://h.com//",                      # all-slash path -> /
            "https://h.com/a/?ref=nav&utm_campaign=z",  # all params dropped
            "ftp://x.org/a//b/",                   # non-http scheme: port rules off
        ])
        assert got == [
            "https://www.site.co.uk/Docs/7?a=1&b=2",
            "http://h.com/p",
            "https://h.com:8080/p?x=1",
            "http://h.com/",
            "http://h.com/",
            "https://h.com/a",
            "ftp://x.org/a/b",
        ]

    def test_invalid_and_null_normalize_to_null(self, spark):
        assert self._norm(spark, ["not a url", "http://", None]) \
            == [None, None, None]

    def test_idempotent(self, spark):
        urls = ["HTTPS://WWW.Site.CO.UK:443/Docs//7/?utm_source=x&b=2&a=1#f",
                "http://User@H.com:80/p?z=1&y=2", "https://h.com"]
        once = self._norm(spark, urls)
        assert self._norm(spark, once) == once

    def test_registered_domain(self, spark):
        from pyspark.sql import functions as F
        from hades_spark.functions.urls import registered_domain
        hosts = ["www.site.co.uk", "a.b.site.com", "site.com", "com",
                 "localhost", None, "x.gov.uk", "deep.a.b.co.jp"]
        df = spark.createDataFrame([(h,) for h in hosts], "h string")
        got = [r[0] for r in df.select(registered_domain(F.col("h"))).collect()]
        assert got == ["site.co.uk", "site.com", "site.com", "com",
                       "localhost", None, "x.gov.uk", "b.co.jp"]

    def test_plan_is_udf_free(self, spark):
        from hades_spark.functions.urls import registered_domain, url_host, \
            url_normalize
        df = spark.createDataFrame([("http://A.com/x",)], "url string")
        plan = df.select(
            registered_domain(url_host(url_normalize("url")))
        )._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestWeightedSampling:
    """Efraimidis-Spirakis weighted sampling: weight-proportional
    inclusion, partitioning-independence, dirt-row exclusion, and the
    TakeOrderedAndProject plan shape (no full sort shuffle)."""

    def _df(self, spark, n=200, heavy=10, hw=20.0):
        rows = [(f"k{i}", hw if i < heavy else 1.0) for i in range(n)]
        return spark.createDataFrame(rows, "key string, w double")

    def test_weight_proportional_inclusion(self, spark):
        from hades_spark.operators.sampling import weighted_sample_topk
        df = self._df(spark).cache()
        heavy_hits = total = 0
        for seed in range(12):
            got = {r.key for r in
                   weighted_sample_topk(df, "key", "w", k=20, seed=seed)
                   .select("key").collect()}
            assert len(got) == 20
            heavy_hits += sum(1 for k in got if int(k[1:]) < 10)
            total += 20
        df.unpersist()
        # heavy keys carry 200/390 of the mass but are 5% of keys: under
        # uniform sampling E[hits] = 12*20*0.05 = 12; weighted draws give
        # E ~ 90+. 40 separates them at >10 sigma.
        assert heavy_hits > 40, heavy_hits

    def test_deterministic_across_partitioning(self, spark):
        from hades_spark.operators.sampling import weighted_sample_topk
        df = self._df(spark)
        a = sorted(r.key for r in
                   weighted_sample_topk(df, "key", "w", 15, seed=3).collect())
        b = sorted(r.key for r in
                   weighted_sample_topk(df.repartition(7), "key", "w", 15,
                                        seed=3).collect())
        assert a == b

    def test_k_at_least_n_returns_all_valid(self, spark):
        from hades_spark.operators.sampling import weighted_sample_topk
        df = spark.createDataFrame(
            [("a", 1.0), ("b", 2.0), ("c", None), ("d", 0.0), (None, 5.0)],
            "key string, w double")
        got = sorted(r.key for r in
                     weighted_sample_topk(df, "key", "w", 99).collect())
        assert got == ["a", "b"]   # null/zero weight + null key excluded

    def test_plan_is_take_ordered(self, spark):
        from hades_spark.operators.sampling import weighted_sample_topk
        plan = weighted_sample_topk(self._df(spark), "key", "w", 5) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "Exchange rangepartitioning" not in plan

    def test_weighted_gate_rate(self, spark):
        from pyspark.sql import functions as F
        from hades_spark.operators.sampling import weighted_gate
        df = spark.range(4000).select(
            F.col("id").cast("string").alias("key"),
            F.when(F.col("id") % 2 == 0, 2.0).otherwise(0.5).alias("w"))
        kept = df.filter(weighted_gate(F.col("key"), F.col("w"), rate=0.2))
        n2 = kept.filter("w = 2.0").count()   # p = 0.4 of 2000
        n5 = kept.filter("w = 0.5").count()   # p = 0.1 of 2000
        assert abs(n2 - 800) < 120 and abs(n5 - 200) < 80
        # p caps at 1: rate high enough keeps everything
        assert df.filter(weighted_gate(F.col("key"), F.col("w"), 10)) \
                 .count() == 4000


class TestLabelPropagation:
    """operators/graph.label_propagation — planted-community recovery,
    deterministic ties, dirt-row handling, and fixed-point stability."""

    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "src string, dst string")

    def test_two_planted_communities(self, spark):
        from hades_spark.operators.graph import label_propagation
        # two 4-cliques joined by one bridge edge
        a = [f"a{i}" for i in range(4)]
        b = [f"b{i}" for i in range(4)]
        rows = [(x, y) for grp in (a, b) for x in grp for y in grp if x < y]
        rows.append(("a0", "b0"))
        got = {r.node: r.label for r in label_propagation(
            self._edges(spark, rows), iterations=6).collect()}
        assert len({got[x] for x in a}) == 1
        assert len({got[x] for x in b}) == 1
        assert got["a1"] != got["b1"]

    def test_fixed_point_stable(self, spark):
        from hades_spark.operators.graph import label_propagation
        rows = [(f"a{i}", f"a{j}") for i in range(4) for j in range(4) if i < j]
        e = self._edges(spark, rows)
        l4 = sorted(map(tuple, label_propagation(e, iterations=4).collect()))
        l7 = sorted(map(tuple, label_propagation(e, iterations=7).collect()))
        assert l4 == l7 == [(f"a{i}", "a0") for i in range(4)]

    def test_dirt_rows_and_self_loops(self, spark):
        from hades_spark.operators.graph import label_propagation
        e = self._edges(spark, [("x", "y"), ("x", "x"), (None, "z"),
                                ("y", None), ("y", "x")])
        got = {r.node: r.label for r in
               label_propagation(e, iterations=3).collect()}
        # only the x-y component survives; min label wins
        assert got == {"x": "x", "y": "x"}

    def test_zero_iterations_identity(self, spark):
        from hades_spark.operators.graph import label_propagation
        got = sorted(map(tuple, label_propagation(
            self._edges(spark, [("p", "q")]), iterations=0).collect()))
        assert got == [("p", "p"), ("q", "q")]

    def test_bipartite_without_self_vote_oscillates(self, spark):
        from hades_spark.operators.graph import label_propagation
        # K2,2: pure synchronous LPA swaps sides every round — the classic
        # pathology. With the self-vote it settles; without, round parity
        # shows (this pins WHY include_self defaults on).
        rows = [("l0", "r0"), ("l0", "r1"), ("l1", "r0"), ("l1", "r1")]
        e = self._edges(spark, rows)
        damped = {r.node: r.label for r in label_propagation(
            e, iterations=6).collect()}
        assert len(set(damped.values())) == 1      # one community
        raw2 = sorted(map(tuple, label_propagation(
            e, iterations=2, include_self=False).collect()))
        raw3 = sorted(map(tuple, label_propagation(
            e, iterations=3, include_self=False).collect()))
        assert raw2 != raw3                        # oscillation is real


class TestHllSketch:
    """operators/sketch HLL — error bound vs exact, raw-branch engagement,
    lossless merge, and the integer-exact rho (no float log2)."""

    def _docs(self, spark, n, groups=2):
        from pyspark.sql import functions as F
        return spark.range(n).select(
            (F.col("id") % groups).cast("string").alias("g"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"))

    def test_estimate_within_bound(self, spark):
        from hades_spark.operators.sketch import hll_estimate, hll_sketch
        df = self._docs(spark, 20_000, groups=2)   # 10k distinct per group
        sk = hll_sketch(df, ["g"], "v", p=9)
        for r in hll_estimate(sk, ["g"], p=9).collect():
            # std err 1.04/sqrt(512) = 4.6%; 4 sigma
            assert abs(r.distinct_est - 10_000) < 0.184 * 10_000, r

    def test_raw_branch_at_small_m(self, spark):
        from hades_spark.operators.sketch import hll_estimate, hll_sketch
        df = self._docs(spark, 5_000, groups=1)    # E=5000 >> 2.5*16
        sk = hll_sketch(df, ["g"], "v", p=4)
        est = hll_estimate(sk, ["g"], p=4).collect()[0].distinct_est
        assert abs(est - 5_000) < 0.9 * 5_000      # 26% std err at m=16
        assert est > 2.5 * 16                      # really the raw branch

    def test_merge_equals_union_sketch(self, spark):
        from hades_spark.operators.sketch import hll_merge, hll_sketch
        a, b = self._docs(spark, 3_000), self._docs(spark, 5_000)
        merged = sorted(map(tuple,
            hll_merge(hll_sketch(a, ["g"], "v", p=7),
                      hll_sketch(b, ["g"], "v", p=7), ["g"]).collect()))
        whole = sorted(map(tuple,
            hll_sketch(a.unionByName(b), ["g"], "v", p=7).collect()))
        assert merged == whole                     # lossless, row-exact

    def test_nulls_carry_no_identity(self, spark):
        from hades_spark.operators.sketch import hll_estimate, hll_sketch
        df = spark.createDataFrame(
            [("g", None), ("g", None), ("g", "x")], "g string, v string")
        sk = hll_sketch(df, ["g"], "v", p=9)
        est = hll_estimate(sk, ["g"], p=9).collect()[0].distinct_est
        assert abs(est - 1.0) < 0.01

    def test_rho_matches_python_reference(self, spark):
        import pyspark.sql.functions as F
        from hades_spark.operators.sketch import hll_register, hll_rho
        df = self._docs(spark, 64, groups=1)
        got = df.select(F.xxhash64("v").alias("h"),
                        hll_register(F.col("v"), 9).alias("reg"),
                        hll_rho(F.col("v"), 9).alias("rho")).collect()
        for r in got:
            u = r.h & ((1 << 64) - 1)              # unsigned view
            assert r.reg == (u & 511)
            rest = u >> 9
            want = 56 if rest == 0 else 56 - rest.bit_length()
            assert r.rho == want, (r.h, r.rho, want)


class TestTriangleCount:
    """operators/graph.triangle_count — known closed forms, duplicate and
    direction insensitivity, hub-graph sanity, and the oriented fan-out
    bound that makes the wedge join web-scale-safe."""

    def _count(self, spark, rows):
        from hades_spark.operators.graph import triangle_count
        df = spark.createDataFrame(rows, "src long, dst long")
        return triangle_count(df).collect()[0].n_triangles

    def test_clique_closed_form(self, spark):
        n = 7
        rows = [(i, j) for i in range(n) for j in range(n) if i < j]
        assert self._count(spark, rows) == n * (n-1) * (n-2) // 6  # C(7,3)

    def test_duplicates_reversals_selfloops_ignored(self, spark):
        tri = [(1, 2), (2, 3), (3, 1)]
        noisy = tri + [(2, 1), (3, 2), (1, 1), (2, 3), (3, 1)]
        assert self._count(spark, noisy) == 1

    def test_star_has_none_bipartite_has_none(self, spark):
        star = [(0, i) for i in range(1, 30)]
        assert self._count(spark, star) == 0
        k33 = [(a, b) for a in range(3) for b in range(10, 13)]
        assert self._count(spark, k33) == 0

    def test_two_triangles_sharing_an_edge(self, spark):
        assert self._count(spark, [(1, 2), (2, 3), (3, 1), (2, 4), (4, 3)]) == 2

    def test_oriented_outdegree_bounded_on_hub(self, spark):
        # lollipop: hub 0 connected to 40 leaves plus one 3-clique; the
        # ORIENTED out-degree of the hub must stay small (leaves have
        # degree 1 -> edges point leaf->hub), so wedge fan-out at the hub
        # never squares the raw degree.
        from pyspark.sql import functions as F
        from hades_spark.operators.graph import triangle_count
        rows = [(0, i) for i in range(1, 41)] + [(0, 50), (50, 51), (51, 0)]
        df = spark.createDataFrame(rows, "src long, dst long")
        assert triangle_count(df).collect()[0].n_triangles == 1


class TestBigramLm:
    """operators/lm.py — hand-computed probabilities on a pinned corpus,
    distribution normalization, short-doc exclusion, and the rank check
    the filter exists for (gibberish scores worse than fluent text)."""

    def test_hand_computed_tiny_corpus(self, spark):
        import math
        from hades_spark.operators.lm import (bigram_quality_scores,
                                              train_bigram_lm)
        docs = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b")], "doc_id long, text string")
        lm = train_bigram_lm(docs)
        # bigrams: (a,b)x3, (b,a)x1; contexts a->3, b->1; vocab {a,b} v=2
        got = {r.doc_id: r for r in
               bigram_quality_scores(docs, lm, alpha=0.5).collect()}
        p_ab = (3 + 0.5) / (3 + 0.5 * 2)
        p_ba = (1 + 0.5) / (1 + 0.5 * 2)
        want1 = (2 * math.log(p_ab) + math.log(p_ba)) / 3
        assert got[1].n_bigrams == 3
        assert abs(got[1].avg_logprob - want1) < 1e-12
        assert abs(got[2].avg_logprob - math.log(p_ab)) < 1e-12
        assert abs(got[2].perplexity - 1 / p_ab) < 1e-9

    def test_smoothed_conditionals_normalize(self, spark):
        from pyspark.sql import functions as F
        from hades_spark.operators.lm import train_bigram_lm
        docs = spark.createDataFrame(
            [(1, "x y z x z y x")], "doc_id long, text string")
        lm = train_bigram_lm(docs)
        v = lm["vocab"].collect()[0].v
        a = 0.5
        # sum over the FULL vocab of (c12+a)/(c1+a*v) == 1 per context
        full = lm["contexts"].crossJoin(
            lm["bigrams"].select("w2").distinct())
        joined = full.join(lm["bigrams"], ["w1", "w2"], "left") \
            .select("w1", "c1", F.coalesce("c12", F.lit(0)).alias("c12"))
        sums = joined.groupBy("w1", "c1").agg(
            (F.sum((F.col("c12") + a)) / (F.col("c1") + a * v)).alias("s")) \
            .collect()
        assert all(abs(r.s - 1.0) < 1e-12 for r in sums)

    def test_short_docs_excluded(self, spark):
        from hades_spark.operators.lm import (bigram_quality_scores,
                                              train_bigram_lm)
        docs = spark.createDataFrame(
            [(1, "one"), (2, ""), (3, "two tokens")],
            "doc_id long, text string")
        lm = train_bigram_lm(docs)
        got = [r.doc_id for r in bigram_quality_scores(docs, lm).collect()]
        assert got == [3]

    def test_gibberish_ranks_worse(self, spark):
        from hades_spark.operators.lm import (bigram_quality_scores,
                                              train_bigram_lm)
        fluent = "the model reads the table and the model writes the table"
        # the unseen-bigram floor is 1/vocab: give the corpus a realistic
        # vocab breadth so "unseen" is actually improbable
        filler = " ".join(f"w{i}" for i in range(80))
        train = spark.createDataFrame(
            [(i, fluent) for i in range(20)] + [(50, filler)],
            "doc_id long, text string")
        lm = train_bigram_lm(train)        # gibberish held OUT of training
        score = train.unionByName(spark.createDataFrame(
            [(99, "zq xv qp wk jx vz kq px")], "doc_id long, text string"))
        got = {r.doc_id: r.perplexity for r in
               bigram_quality_scores(score, lm).collect()}
        assert got[99] > 10 * got[0]       # unseen bigrams -> way out

    def test_tokenization_contract(self, spark):
        from pyspark.sql import functions as F
        from hades_spark.operators.lm import tokens_col
        df = spark.createDataFrame(
            [("  Hello, WORLD!! x9 --",), ("",), (None,)], "t string")
        got = [r[0] for r in df.select(tokens_col(F.col("t"))).collect()]
        assert got[0] == ["hello", "world", "x9"]
        assert got[1] == []
        assert got[2] is None


class TestDecontaminate:
    """operators/decontaminate.py — exact overlap counts, threshold
    gating, set (not occurrence) semantics, and the readout plan."""

    def test_contamination_counts_exact(self, spark):
        from hades_spark.operators.decontaminate import contamination_report
        corpus = spark.createDataFrame([
            (1, "alpha beta gamma delta epsilon"),   # shares 2 trigrams
            (2, "alpha beta gamma zeta eta"),        # shares 1
            (3, "totally different words here now"), # shares 0
        ], "doc_id long, text string")
        bench = spark.createDataFrame(
            [("alpha beta gamma delta theta",)], "text string")
        got = {r.doc_id: (r.n_overlap, r.contaminated) for r in
               contamination_report(corpus, bench, n=3, min_hits=2)
               .collect()}
        # doc1 trigrams: {a b g, b g d, g d e}; bench: {a b g, b g d, g d t}
        assert got[1] == (2, True)
        assert got[2] == (1, False)
        assert 3 not in got                     # zero-overlap docs absent

    def test_overlap_is_set_not_occurrence(self, spark):
        from hades_spark.operators.decontaminate import contamination_report
        corpus = spark.createDataFrame(
            [(1, "x y z x y z x y z")], "doc_id long, text string")
        bench = spark.createDataFrame([("x y z",)], "text string")
        got = contamination_report(corpus, bench, n=3, min_hits=1).collect()
        # "x y z" occurs 3x in the doc but is ONE distinct shared trigram
        assert got[0].n_overlap == 1

    def test_short_docs_produce_no_windows(self, spark):
        from hades_spark.operators.decontaminate import contamination_report
        corpus = spark.createDataFrame(
            [(1, "only two")], "doc_id long, text string")
        bench = spark.createDataFrame([("only two",)], "text string")
        assert contamination_report(corpus, bench, n=3).count() == 0

    def test_repeated_passages_counts_and_order(self, spark):
        from hades_spark.operators.decontaminate import repeated_passages
        corpus = spark.createDataFrame([
            (1, "cookie banner text plus unique one"),
            (2, "cookie banner text plus unique two"),
            (3, "cookie banner text and other stuff"),
            (4, "cookie banner text and other stuff again"),  # in-doc once
        ], "doc_id long, text string")
        got = [(r.passage, r.n_docs) for r in
               repeated_passages(corpus, n=3, min_docs=2, top_k=3).collect()]
        assert got[0] == ("cookie banner text", 4)
        # five passages tie at 2 docs; the asc tie-break is total
        assert got[1] == ("and other stuff", 2)
        assert got[2] == ("banner text and", 2)

    def test_repeated_passages_plan_is_take_ordered(self, spark):
        from hades_spark.operators.decontaminate import repeated_passages
        corpus = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
        plan = repeated_passages(corpus, n=3) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestPiiRedaction:
    """functions/pii.py — token placement, ordering interactions (an IPv4
    must not part-match the phone pattern), counts==redaction agreement,
    and clean-text passthrough."""

    def _one(self, spark, text):
        from pyspark.sql import functions as F
        from hades_spark.functions.pii import pii_counts, redact_pii
        df = spark.createDataFrame([(text,)], "t string")
        return df.select(redact_pii("t").alias("r"),
                         pii_counts("t").alias("c")).collect()[0]

    def test_all_three_kinds(self, spark):
        r = self._one(spark, "mail a.b+x@sub.ex.co.uk call 555-123-4567 "
                             "from 192.168.1.254 now")
        assert r.r == "mail <EMAIL> call <PHONE> from <IP> now"
        assert (r.c.n_emails, r.c.n_ips, r.c.n_phones) == (1, 1, 1)

    def test_ordering_email_wins_over_phone(self, spark):
        # a digit-run local part matches the phone shape; the fixed
        # email-first order must keep the address one token
        r = self._one(spark, "ping user555-123-4567@x.io ok")
        assert r.r == "ping <EMAIL> ok"
        assert r.c.n_emails == 1 and r.c.n_phones == 0

    def test_valid_ipv4_redacts_as_ip(self, spark):
        r = self._one(spark, "srv 100.200.300.4 x")
        assert "<IP>" in r.r and "<PHONE>" not in r.r
        assert r.c.n_ips == 1 and r.c.n_phones == 0

    def test_multiple_occurrences_global(self, spark):
        r = self._one(spark, "a@b.io c@d.org 555-123-4567 999.888.7777")
        assert r.r.count("<EMAIL>") == 2
        assert r.r.count("<PHONE>") == 2       # dots count as separators
        assert r.c.n_emails == 2 and r.c.n_phones == 2

    def test_clean_text_untouched(self, spark):
        s = "no pii here just words and 42 numbers 3.14"
        r = self._one(spark, s)
        assert r.r == s
        assert (r.c.n_emails, r.c.n_ips, r.c.n_phones) == (0, 0, 0)


class TestGroupedQuantiles:
    """operators/quantile grouped variants — per-group exactness at
    fine bins, error bound, gate fraction + adaptivity, and dirt rows."""

    def test_per_group_median_near_exact(self, spark):
        from pyspark.sql import functions as F
        from hades_spark.operators.quantile import grouped_quantiles
        # group a: 1..1000, group b: 1..100 — known medians
        df = spark.range(1, 1001).select(
            F.when(F.col("id") <= 100, "b").otherwise("a").alias("g"),
            F.col("id").cast("double").alias("x"))
        got = {(r.g, r.q): r.value for r in
               grouped_quantiles(df, ["g"], "x", [0.5], n_bins=4096)
               .collect()}
        # error bound: range/n_bins
        assert abs(got[("a", 0.5)] - 550.0) <= (1000 - 101) / 4096 + 1
        assert abs(got[("b", 0.5)] - 50.0) <= 100 / 4096 + 1

    def test_groups_do_not_leak(self, spark):
        from hades_spark.operators.quantile import grouped_quantiles
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", 1000.0), ("b", 2000.0)],
            "g string, x double")
        got = {r.g: r.value for r in
               grouped_quantiles(df, ["g"], "x", [1.0], n_bins=16)
               .collect()}
        assert got["a"] <= 2.0 + 1e-9 and got["b"] >= 1000.0

    def test_adaptive_gate_fraction_and_adaptivity(self, spark):
        from pyspark.sql import functions as F
        from hades_spark.operators.quantile import adaptive_quality_gate
        # lang X scores 0..999, lang Y scores 0..99 — a global cutoff at
        # X's threshold would wipe Y out; the adaptive gate keeps ~40% of
        # EACH
        df = spark.range(1100).select(
            F.when(F.col("id") < 1000, "X").otherwise("Y").alias("lang"),
            F.when(F.col("id") < 1000, F.col("id"))
             .otherwise(F.col("id") - 1000).cast("double").alias("s"))
        kept = adaptive_quality_gate(df, ["lang"], "s", keep_top_frac=0.4)
        by = {r.lang: r.cnt for r in
              kept.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
        assert abs(by["X"] - 400) <= 5
        assert abs(by["Y"] - 40) <= 3
        # and the kept rows really are each group's TOP scores
        mins = {r.lang: r.m for r in kept.groupBy("lang")
                .agg(F.min("s").alias("m")).collect()}
        assert mins["X"] >= 595 and mins["Y"] >= 57

    def test_null_and_nan_rows_ignored(self, spark):
        from hades_spark.operators.quantile import grouped_quantiles
        df = spark.createDataFrame(
            [("a", 1.0), ("a", None), ("a", float("nan")), ("a", 3.0)],
            "g string, x double")
        got = grouped_quantiles(df, ["g"], "x", [0.5], n_bins=16).collect()
        assert len(got) == 1 and 1.0 <= got[0].value <= 3.0


class TestSequencePacking:
    """operators/packing.py — stream contiguity (no gaps, no overlaps),
    cluster-layout invariance, span math, and dirt exclusion."""

    def _pack(self, spark, rows, capacity=10, segs=None, seed=3):
        from hades_spark.operators.packing import pack_sequences
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        return pack_sequences(df, capacity=capacity, seed=seed,
                              num_segments=segs)

    def test_stream_is_contiguous(self, spark):
        rows = [(i, (i * 7) % 13 + 1) for i in range(200)]
        got = self._pack(spark, rows, capacity=10, segs=8).collect()
        total = sum(t for _, t in rows)
        # reconstruct the stream: sort by global position and check each
        # doc starts exactly where the previous ended
        by_pos = sorted(got, key=lambda r: r.start_bin * 10 + r.bin_offset)
        pos = 0
        for r in by_pos:
            assert r.start_bin * 10 + r.bin_offset == pos
            assert r.end_bin == (pos + r.tokens - 1) // 10
            assert r.n_bins_spanned == r.end_bin - r.start_bin + 1
            pos += r.tokens
        assert pos == total

    def test_layout_invariant(self, spark):
        from hades_spark.operators.packing import pack_sequences
        rows = [(i, i % 9 + 1) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        a = sorted(map(tuple, pack_sequences(
            df, capacity=16, seed=1, num_segments=4).collect()))
        b = sorted(map(tuple, pack_sequences(
            df.repartition(13), capacity=16, seed=1,
            num_segments=9).collect()))
        assert a == b

    def test_long_doc_spans_bins(self, spark):
        got = {r.doc_id: r for r in
               self._pack(spark, [(1, 25)], capacity=10).collect()}
        r = got[1]
        assert (r.start_bin, r.end_bin, r.n_bins_spanned) == (0, 2, 3)

    def test_dirt_rows_excluded(self, spark):
        got = self._pack(spark, [(1, 5), (2, 0), (3, None)], capacity=10) \
            .collect()
        assert [r.doc_id for r in got] == [1]


class TestTfidf:
    """operators/tfidf.py — hand-computed scores, rare-term dominance,
    deterministic rank ties, and k gating."""

    def test_hand_computed(self, spark):
        import math
        from hades_spark.operators.tfidf import tfidf_scores
        docs = spark.createDataFrame([
            (1, "apple apple banana"), (2, "banana cherry"), (3, "banana"),
        ], "doc_id long, text string")
        got = {(r.doc_id, r.term): r for r in tfidf_scores(docs).collect()}
        idf = lambda df: math.log((1 + 3) / (1 + df)) + 1
        assert got[(1, "apple")].tf == 2 and got[(1, "apple")].df == 1
        assert abs(got[(1, "apple")].score - 2 * idf(1)) < 1e-12
        assert abs(got[(2, "banana")].score - idf(3)) < 1e-12

    def test_rare_term_outranks_common(self, spark):
        from hades_spark.operators.tfidf import top_terms
        docs = spark.createDataFrame(
            [(i, "common words everywhere") for i in range(9)]
            + [(99, "common words everywhere plus zygote")],
            "doc_id long, text string")
        got = [r.term for r in top_terms(docs, k=2)
               .filter("doc_id = 99").orderBy("rank").collect()]
        assert got == ["plus", "zygote"]   # the two df=1 terms, asc tie

    def test_tie_break_and_k(self, spark):
        from hades_spark.operators.tfidf import top_terms
        docs = spark.createDataFrame(
            [(1, "zeta alpha")], "doc_id long, text string")
        got = [(r.rank, r.term) for r in
               top_terms(docs, k=2).orderBy("rank").collect()]
        assert got == [(1, "alpha"), (2, "zeta")]   # equal score, asc term
        assert len(top_terms(docs, k=1).collect()) == 1


class TestCurateForTraining:
    """pipeline/curation.curate_for_training — each stage's effect pinned
    on a crafted corpus: redaction-unified duplicates collapse, benchmark
    copies drop BEFORE dedup can crown one, survivors pack contiguously."""

    def test_stage_effects(self, spark):
        from hades_spark.pipeline.curation import curate_for_training
        eight = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame([
            # 1 and 2 differ ONLY in PII -> duplicates after redaction
            (1, f"{eight} mail a@x.io"),
            (2, f"{eight} mail b@y.org"),
            # 3 is a benchmark copy -> dropped (not deduped into a winner)
            (3, "leaked question one two three four five six seven"),
            # 4 is clean and unique
            (4, "unique document body with completely different words here"),
        ], "doc_id long, text string")
        bench = spark.createDataFrame(
            [("leaked question one two three four five six seven",)],
            "text string")
        got = {r.doc_id: r for r in curate_for_training(
            docs, bench, ngram_n=4, min_hits=2, capacity=8, seed=2)
            .collect()}
        assert set(got) == {1, 4}          # 2 deduped away, 3 decontaminated
        assert got[1].tokens == 10         # '<EMAIL>' is one token
        # packing is contiguous over survivors
        total = sum(r.tokens for r in got.values())
        last = max(got.values(), key=lambda r: r.start_bin * 8 + r.bin_offset)
        assert last.start_bin * 8 + last.bin_offset + last.tokens == total


class TestBm25:
    """operators/tfidf.bm25_topk — the three BM25 behaviors that define
    it: tf saturation, length normalization, rarity weighting."""

    def test_length_normalization(self, spark):
        from hades_spark.operators.tfidf import bm25_topk
        docs = spark.createDataFrame([
            (1, "spark fast"),                       # short, 1 hit
            (2, "spark " + "filler " * 30),          # long, 1 hit
        ], "doc_id long, text string")
        got = [r.doc_id for r in bm25_topk(docs, ["spark"], k=2).collect()]
        assert got[0] == 1                            # short doc ranks first

    def test_tf_saturates(self, spark):
        import math
        from hades_spark.operators.tfidf import bm25_topk
        docs = spark.createDataFrame([
            (1, "spark word"), (2, "spark spark"), (3, "pad pad"),
        ], "doc_id long, text string")
        got = {r.doc_id: r.score for r in
               bm25_topk(docs, ["spark"], k=3, b=0.0).collect()}
        # with b=0 the doc-2 gain over doc-1 is tf-saturation only:
        # 2*2.2/(2+1.2) vs 1*2.2/(1+1.2) -> ratio 1.375 < 2
        assert 1.0 < got[2] / got[1] < 2.0
        assert abs(got[2] / got[1] - (2 * 2.2 / 3.2) / (2.2 / 2.2)) < 1e-9

    def test_rare_term_weighs_more(self, spark):
        from hades_spark.operators.tfidf import bm25_topk
        rows = [(i, "common text body") for i in range(10)]
        rows += [(100, "common rare"), (101, "common plain")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = [r.doc_id for r in
               bm25_topk(docs, ["common", "rare"], k=2).collect()]
        assert got[0] == 100

    def test_validation(self, spark):
        import pytest
        from hades_spark.operators.tfidf import bm25_topk
        docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            bm25_topk(docs, [], k=1)
        with pytest.raises(ValueError):
            bm25_topk(docs, ["x"], k=0)


class TestPq:
    """operators/pq.py — quantization quality scales with codebook size,
    ADC recall vs exact brute force on clustered data, deterministic
    encoding, dirt/validation."""

    def _clustered(self, spark, n=400, dim=32, n_clusters=20, seed=5):
        import numpy as np
        rng = np.random.RandomState(seed)
        cents = rng.randn(n_clusters, dim) * 3.0
        pts = cents[np.arange(n) % n_clusters] + rng.randn(n, dim) * 0.3
        # unit-normalize so ADC's dot product and the exact ranker's
        # cosine induce the same ordering
        pts = pts / np.linalg.norm(pts, axis=1, keepdims=True)
        rows = [(i, [float(x) for x in pts[i]]) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), pts

    def test_reconstruction_improves_with_codes(self, spark):
        import numpy as np
        from hades_spark.operators.pq import encode_pq, train_pq_codebooks
        df, pts = self._clustered(spark)
        errs = {}
        for n_codes in (4, 64):
            books = train_pq_codebooks(df, m_subspaces=4, n_codes=n_codes,
                                       sample_rows=400, seed=1)
            codes = {r.vec_id: r.codes for r in encode_pq(df, books).collect()}
            sub = pts.shape[1] // 4
            err = 0.0
            for i, p in enumerate(pts):
                rec = np.concatenate([books[mi, codes[i][mi]]
                                      for mi in range(4)])
                err += float(((p - rec) ** 2).sum())
            errs[n_codes] = err
        assert errs[64] < 0.25 * errs[4]

    def test_adc_recall_vs_exact(self, spark):
        import numpy as np
        from pyspark.sql import functions as F
        from hades_spark.operators.pq import (encode_pq, pq_topk,
                                              train_pq_codebooks)
        from hades_spark.operators.similarity import topk_join
        df, _ = self._clustered(spark)
        books = train_pq_codebooks(df, m_subspaces=8, n_codes=64,
                                   sample_rows=400, seed=2)
        codes = encode_pq(df, books)
        queries = df.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        # the production IVF-PQ pattern: ADC SHORTLISTS (3x oversample),
        # exact re-ranks — inside a tight cluster ADC can't order points
        # finer than the quantization error, but the shortlist must
        # contain the true top-k
        approx = pq_topk(codes, queries, books, k=30)
        got = {(r.q_id, r.c_id) for r in approx.collect()}
        cands = df.select(F.col("vec_id").alias("c_id"),
                          F.col("embedding").alias("c_vec"))
        exact = topk_join(queries, cands, k=10)
        want = {(r.q_id, r.c_id) for r in exact.collect()}
        recall = len(got & want) / len(want)
        assert recall >= 0.9, recall

    def test_encoding_deterministic(self, spark):
        from hades_spark.operators.pq import encode_pq, train_pq_codebooks
        df, _ = self._clustered(spark, n=100)
        books = train_pq_codebooks(df, m_subspaces=4, n_codes=16,
                                   sample_rows=100, seed=3)
        a = sorted((r.vec_id, tuple(r.codes))
                   for r in encode_pq(df, books).collect())
        b = sorted((r.vec_id, tuple(r.codes))
                   for r in encode_pq(df.repartition(7), books).collect())
        assert a == b

    def test_validation(self, spark):
        import pytest
        from hades_spark.operators.pq import train_pq_codebooks
        df, _ = self._clustered(spark, n=50, dim=30)
        with pytest.raises(ValueError):          # 30 % 4 != 0
            train_pq_codebooks(df, m_subspaces=4, n_codes=16,
                               sample_rows=50)
        with pytest.raises(ValueError):          # too few samples
            train_pq_codebooks(df, m_subspaces=2, n_codes=64,
                               sample_rows=50)


class TestSplitColumn:
    """operators/sampling.split_column — disjoint+exhaustive assignment,
    determinism, cross-table consistency, validation."""

    def test_fractions_and_exhaustive(self, spark):
        from pyspark.sql import functions as F
        from hades_spark.operators.sampling import split_column
        df = spark.range(20_000).select(F.col("id").alias("k"))
        lab = df.select("k", split_column(
            F.col("k"), {"train": 0.8, "val": 0.1, "test": 0.1}).alias("s"))
        by = {r.s: r.c for r in
              lab.groupBy("s").agg(F.count("*").alias("c")).collect()}
        assert set(by) == {"train", "val", "test"}     # exhaustive
        assert sum(by.values()) == 20_000
        assert abs(by["train"] - 16_000) < 400
        assert abs(by["val"] - 2_000) < 200

    def test_consistent_across_tables(self, spark):
        from pyspark.sql import functions as F
        from hades_spark.operators.sampling import split_column
        s = {"a": 0.5, "b": 0.5}
        one = spark.range(500).select(
            F.col("id").alias("k"), split_column(F.col("k"), s, 4).alias("s"))
        two = spark.range(500).repartition(7).select(
            F.col("id").alias("k"), split_column(F.col("k"), s, 4).alias("s"))
        assert sorted(map(tuple, one.collect())) \
            == sorted(map(tuple, two.collect()))

    def test_validation(self, spark):
        import pytest
        from pyspark.sql import functions as F
        from hades_spark.operators.sampling import split_column
        with pytest.raises(ValueError):
            split_column(F.col("k"), {"a": 0.5, "b": 0.6})
        with pytest.raises(ValueError):
            split_column(F.col("k"), {})


class TestNewOpsFuzz:
    """Hypothesis property fuzz over the thirteenth-session surfaces:
    url_normalize never throws and is idempotent on arbitrary strings;
    pack_sequences equals the sequential Python definition; ngram_windows
    equals the Python sliding window."""

    def test_url_normalize_total_and_idempotent(self, spark):
        from hypothesis import given, settings
        from hypothesis import strategies as st
        from pyspark.sql import functions as F

        from hades_spark.functions.urls import url_normalize

        frag = st.sampled_from(
            ["http://", "HTTPS://", "a.B.co", ":80", ":443", ":8080",
             "//x", "/p/", "?a=1", "?utm_s=2&b=", "#f", "@u:p@", "%zz",
             " ", "\t", "://", "..", "日本", ""])

        @settings(max_examples=15, deadline=None)
        @given(parts=st.lists(frag, max_size=6))
        def run(parts):
            s = "".join(parts)
            df = spark.createDataFrame([(s,)], "url string")
            once = df.select(url_normalize("url").alias("n")).collect()[0].n
            if once is not None:
                df2 = spark.createDataFrame([(once,)], "url string")
                twice = df2.select(
                    url_normalize("url").alias("n")).collect()[0].n
                assert twice == once, (s, once, twice)

        run()

    def test_pack_sequences_equals_sequential(self, spark):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from hades_spark.operators.packing import pack_sequences

        @settings(max_examples=10, deadline=None)
        @given(tcs=st.lists(st.integers(-2, 40), min_size=0, max_size=30),
               cap=st.integers(1, 17), segs=st.integers(1, 6))
        def run(tcs, cap, segs):
            import pyspark.sql.functions as F
            rows = [(i, t) for i, t in enumerate(tcs)]
            df = spark.createDataFrame(rows, "doc_id long, n_tokens long") \
                if rows else spark.createDataFrame(
                    [], "doc_id long, n_tokens long")
            got = {r.doc_id: (r.start_bin, r.end_bin, r.bin_offset)
                   for r in pack_sequences(df, capacity=cap, seed=5,
                                           num_segments=segs).collect()}
            # sequential definition: same order key, running cumsum
            valid = [(i, t) for i, t in rows if t and t > 0]
            keyed = spark.createDataFrame(
                [(i,) for i, _ in valid] or [(0,)], "doc_id long").select(
                "doc_id", F.xxhash64(F.lit(5), F.col("doc_id")).alias("k"))
            kmap = {r.doc_id: r.k for r in keyed.collect()}
            order = sorted(valid, key=lambda it: (kmap[it[0]], it[0]))
            pos = 0
            want = {}
            for i, t in order:
                want[i] = (pos // cap, (pos + t - 1) // cap, pos % cap)
                pos += t
            assert got == want, (tcs, cap, segs)

        run()

    def test_ngram_windows_equals_python(self, spark):
        from hypothesis import given, settings
        from hypothesis import strategies as st
        from pyspark.sql import functions as F

        from hades_spark.operators.decontaminate import ngram_windows
        from hades_spark.operators.lm import TOKEN_SPLIT_RE  # noqa: F401
        import re

        @settings(max_examples=15, deadline=None)
        @given(s=st.text(alphabet="ab1 .,!X", max_size=40),
               n=st.integers(1, 4))
        def run(s, n):
            df = spark.createDataFrame([(s,)], "t string")
            got = df.select(
                ngram_windows(F.col("t"), n).alias("w")).collect()[0].w
            toks = [t for t in re.split("[^a-z0-9]+", s.lower()) if t]
            want = [" ".join(toks[i:i + n])
                    for i in range(len(toks) - n + 1)]
            assert got == want, (s, n)

        run()


class TestReviewFixes13:
    """Regressions for the thirteenth-session review findings."""

    def test_adaptive_gate_drops_nan_scores(self, spark):
        from hades_spark.operators.quantile import adaptive_quality_gate
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
             ("a", float("nan")), ("a", None)], "g string, s double")
        kept = sorted(r.s for r in adaptive_quality_gate(
            df, ["g"], "s", keep_top_frac=0.5).collect())
        # NaN would have passed every gate under NaN-greatest ordering
        assert kept == [3.0, 4.0]

    def test_adaptive_gate_keeps_unthresholded_groups(self, spark):
        from hades_spark.operators.quantile import adaptive_quality_gate
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 9.0), (None, 5.0)], "g string, s double")
        got = {(r.g, r.s) for r in adaptive_quality_gate(
            df, ["g"], "s", keep_top_frac=0.5).collect()}
        assert (None, 5.0) in got          # no threshold -> kept, not lost

    def test_phone_never_matches_inside_digit_runs(self, spark):
        from pyspark.sql import functions as F
        from hades_spark.functions.pii import redact_pii
        df = spark.createDataFrame(
            [("order 91234-567-8901 ok",), ("call 234-567-8901 ok",)],
            "t string")
        got = [r[0] for r in df.select(redact_pii("t")).collect()]
        assert got[0] == "order 91234-567-8901 ok"   # suffix not mangled
        assert got[1] == "call <PHONE> ok"

    def test_packing_exact_past_double_precision(self, spark):
        from hades_spark.operators.packing import pack_sequences
        big = (1 << 53) + 1                 # not representable as double
        df = spark.createDataFrame(
            [(1, big), (2, 3), (3, 5)], "doc_id long, n_tokens long")
        got = sorted(pack_sequences(df, capacity=4, seed=9).collect(),
                     key=lambda r: r.start_bin * 4 + r.bin_offset)
        pos = 0
        for r in got:                       # exact long arithmetic holds
            assert r.start_bin * 4 + r.bin_offset == pos
            assert r.end_bin == (pos + r.tokens - 1) // 4
            pos += r.tokens

    def test_split_thresholds_round_not_truncate(self):
        # the oracle string must embed the SAME rounded thresholds the
        # gate uses (int() truncation drifted 3 buckets)
        from hades_spark.operators.sampling import _threshold
        from hades_spark.queries import ORACLE_SQL
        sql = ORACLE_SQL["mix_train_val_test"]
        assert f"bucket < {_threshold(0.8)}" in sql
        assert f"bucket < {_threshold(0.8) + _threshold(0.1)}" in sql


class TestWeightedSamplingGrouped:
    def test_per_group_quota_and_parity_with_global(self, spark):
        from pyspark.sql import functions as F
        from hades_spark.operators.sampling import (
            weighted_sample_topk, weighted_sample_topk_grouped)
        rows = [(f"k{i}", "g" + str(i % 3), float(i % 7 + 1))
                for i in range(120)]
        df = spark.createDataFrame(rows, "key string, g string, w double")
        got = weighted_sample_topk_grouped(df, ["g"], "key", "w", k=5,
                                           seed=2).collect()
        by = {}
        for r in got:
            by.setdefault(r.g, set()).add(r.key)
        assert all(len(v) == 5 for v in by.values()) and len(by) == 3
        # the grouped pick for one group == the global pick run on that
        # group alone (same race keys, same order)
        solo = {r.key for r in weighted_sample_topk(
            df.filter(F.col("g") == "g0"), "key", "w", k=5, seed=2)
            .collect()}
        assert by["g0"] == solo


class TestQualitySignals:
    """operators/quality.py — repetition signals + gate (Gopher family)."""

    def _docs(self, spark):
        return spark.createDataFrame([
            (1, "a b a b a b c"),        # top 2-gram 'a b' x3 of 6 grams
            (2, "x"),                     # < top_ngram words
            (3, ""),                      # empty
            (4, "p q r s t p q r s t p q r s t"),  # fully periodic
            (5, "alpha beta gamma delta epsilon zeta"),  # all unique
        ], ["doc_id", "text"])

    def test_closed_form(self, spark):
        from hades_spark.operators.quality import repetition_signals

        rows = {r["doc_id"]: r for r in
                repetition_signals(self._docs(spark)).collect()}
        r1 = rows[1]
        assert (r1["n_words"], r1["word_chars"]) == (7, 7)
        assert r1["top_gram"] == "a b"
        # 'a b' occurs 3x, 2 chars each occurrence, over 7 word chars
        assert abs(r1["top_gram_char_frac"] - 6 / 7) < 1e-12
        # 3 five-gram windows: ababa / babab / ababc -> no duplicates...
        # (a b a b a), (b a b a b), (a b a b c): all distinct
        assert r1["dup_gram_frac"] == 0.0
        # doc 4: period-5 string of 15 words -> all 11 windows repeat
        assert rows[4]["dup_gram_frac"] == 1.0
        assert rows[4]["top_gram_char_frac"] == pytest.approx(6 / 15)
        # degenerate docs still emit one well-defined row
        assert rows[2]["top_gram"] is None
        assert rows[2]["top_gram_char_frac"] == 0.0
        assert rows[3]["n_words"] == 0 and rows[3]["mean_word_len"] == 0.0
        # all-unique doc: top 2-gram has count 1, no 5-gram dups
        assert rows[5]["dup_gram_frac"] == 0.0

    def test_tie_break_lexicographic(self, spark):
        from hades_spark.operators.quality import repetition_signals

        df = spark.createDataFrame([(1, "z y z y x w x w")],
                                   ["doc_id", "text"])
        # 'z y' x2 and 'x w' x2 tie on count -> lexicographically smaller
        r = repetition_signals(df).collect()[0]
        assert r["top_gram"] == "x w"

    def test_gate_filters_repetitive(self, spark):
        from hades_spark.operators.quality import repetition_gate

        df = spark.createDataFrame([
            (1, "spam spam spam spam spam spam spam spam"),
            (2, "this sentence contains reasonably varied words overall"),
        ], ["doc_id", "text"])
        kept = repetition_gate(df, max_top_gram_char_frac=0.5,
                               max_dup_gram_frac=0.5,
                               min_mean_word_len=2.0).collect()
        assert [r["doc_id"] for r in kept] == [2]
        # original columns survive the gate untouched
        assert set(kept[0].asDict()) == {"doc_id", "text"}


class TestLineDedup:
    """operators/quality.py — cross-document boilerplate line removal."""

    def _pages(self, spark):
        return spark.createDataFrame([
            (1, "HEADER\nbody one\nfooter a"),
            (2, "HEADER\nbody two\nfooter a"),
            (3, "HEADER\nbody three\nfooter b"),
            (4, "HEADER\nfooter a"),            # fully boilerplate
            (5, "  HEADER  \nbody five"),        # trim-normalized match
        ], ["doc_id", "text"])

    def test_removal_and_order(self, spark):
        from hades_spark.operators.quality import line_dedup

        out = {r["doc_id"]: r for r in
               line_dedup(self._pages(spark), min_docs=3).collect()}
        assert len(out) == 5                       # one row per input doc
        assert out[1]["text"] == "body one"
        assert out[1]["n_removed"] == 2            # HEADER (5) + footer a (3)
        assert out[4]["text"] == ""                # fully boilerplate doc
        assert out[4]["n_removed"] == 2
        assert out[3]["text"] == "body three\nfooter b"  # footer b: 1 doc
        # trimmed form matches: '  HEADER  ' removed with the others
        assert out[5]["text"] == "body five"
        # higher threshold: footer a (3 docs) survives at min_docs=4
        by_id = {r["doc_id"]: r for r in
                 line_dedup(self._pages(spark), min_docs=4).collect()}
        assert by_id[1]["text"] == "body one\nfooter a"
        assert by_id[4]["text"] == "footer a"
        assert by_id[4]["n_removed"] == 1

    def test_empty_lines_never_boilerplate(self, spark):
        from hades_spark.operators.quality import line_dedup

        df = spark.createDataFrame([
            (1, "a\n\nb"), (2, "c\n\nd"), (3, "e\n\nf"),
        ], ["doc_id", "text"])
        out = {r["doc_id"]: r["text"]
               for r in line_dedup(df, min_docs=2).collect()}
        # blank lines appear in every doc but are exempt from counting
        assert out[1] == "a\n\nb"

    def test_broadcast_opt_out_parity(self, spark):
        from hades_spark.operators.quality import line_dedup

        pages = self._pages(spark)
        a = sorted(map(tuple, line_dedup(pages, min_docs=3).collect()))
        b = sorted(map(tuple, line_dedup(
            pages, min_docs=3, broadcast_boiler=False).collect()))
        assert a == b

    def test_min_docs_validated(self, spark):
        from hades_spark.operators.quality import line_dedup

        with pytest.raises(ValueError, match="min_docs"):
            line_dedup(self._pages(spark), min_docs=1)


class TestExtractHrefs:
    """functions/urls.extract_hrefs — pure-column anchor extraction."""

    def test_quote_and_case_variants(self, spark):
        from hades_spark.functions.urls import extract_hrefs

        df = spark.createDataFrame([(
            '<a href="http://a.com/x">1</a>'
            "<A HREF = 'https://b.org'>2</A>"
            '<a class="z" href="/rel/path">3</a>'
            '<a href="mailto:u@c.com">4</a>',
        )], ["html"])
        out = df.select(extract_hrefs("html").alias("h")).collect()[0]["h"]
        # double-quoted values first (two RE2-safe scans), then single
        assert out == ["http://a.com/x", "/rel/path", "mailto:u@c.com",
                       "https://b.org"]

    def test_attribute_boundary_and_quote_nesting(self, spark):
        from hades_spark.functions.urls import extract_hrefs

        df = spark.createDataFrame([(
            '<div data-href="https://tracker.example/x">'   # NOT an href
            '<a href="https://a.com/it\'s-fine">q</a>'      # \' inside ""
            "<a href='https://b.com/say-\"hi\"'>r</a>",      # " inside ''
        )], ["html"])
        out = df.select(extract_hrefs("html").alias("h")).collect()[0]["h"]
        assert out == ["https://a.com/it's-fine", 'https://b.com/say-"hi"']

    def test_no_anchors_and_dirt_routing(self, spark):
        from hades_spark.functions.urls import extract_hrefs, url_normalize

        df = spark.createDataFrame(
            [("<p>no links</p>",)], ["html"])
        assert df.select(extract_hrefs("html").alias("h")) \
                 .collect()[0]["h"] == []
        # relative + mailto targets normalize to NULL (the dirt route)
        dirt = spark.createDataFrame(
            [("/rel",), ("mailto:u@c.com",)], ["href"])
        vals = [r["n"] for r in
                dirt.select(url_normalize("href").alias("n")).collect()]
        assert vals == [None, None]

    def test_plan_is_udf_free(self, spark):
        from hades_spark.functions.urls import extract_hrefs

        df = spark.range(3).select(
            F.concat(F.lit('<a href="http://x'), F.col("id"),
                     F.lit('.com/">l</a>')).alias("html"))
        plan = df.select(extract_hrefs("html").alias("h")) \
                 ._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan


class TestRobotsGate:
    """operators/robots.py — RFC 9309 group selection + precedence."""

    TXT = ("# politeness\n"
           "User-agent: googlebot\n"
           "User-agent: hadesbot\n"
           "Disallow: /private/\n"
           "Allow: /private/pub/\n"
           "\n"
           "User-agent: *\n"
           "Disallow: /tmp/\n"
           "Disallow: /*.pdf$\n"
           "Allow:\n"          # empty rule: ignored
           "Crawl-delay: 10\n")

    def test_group_selection(self):
        from hades_spark.operators.robots import parse_robots_rules

        # exact agent group REPLACES the * group (consecutive UA lines
        # share it); unknown agents get the * group
        ours = parse_robots_rules(self.TXT, "HadesBot")
        assert [(p, a) for p, a, *_ in ours] == \
            [("/private/", False), ("/private/pub/", True)]
        other = parse_robots_rules(self.TXT, "otherbot")
        assert [(p, a) for p, a, *_ in other] == \
            [("/tmp/", False), ("/*.pdf$", False)]
        assert parse_robots_rules(None, "x") == []
        assert parse_robots_rules("garbage without colons\n%%", "x") == []

    def test_rule_regex_translation(self):
        from hades_spark.operators.robots import rule_to_regex

        assert rule_to_regex("/*.pdf$") == r"^/.*\.pdf$"
        assert rule_to_regex("/a+b(c)") == r"^/a\+b\(c\)"
        import re
        assert re.match(rule_to_regex("/*.pdf$"), "/x/y.pdf")
        assert not re.match(rule_to_regex("/*.pdf$"), "/x/y.pdfz")

    def test_precedence_longest_and_allow_tie(self, spark):
        from hades_spark.operators.robots import (robots_gate,
                                                  robots_rules_df)

        robots = spark.createDataFrame([
            ("t.com", "User-agent: *\n"
                      "Disallow: /a/\n"
                      "Allow: /a/b/\n"       # longer: wins under /a/b/
                      "Disallow: /x/\n"
                      "Allow: /x/\n"),       # same length: Allow wins
        ], ["host", "robots_txt"])
        rules = robots_rules_df(robots)
        urls = spark.createDataFrame([
            ("t.com", "/a/deny"), ("t.com", "/a/b/allow"),
            ("t.com", "/x/tie"), ("t.com", "/free"),
            ("none.com", "/whatever"),
        ], ["host", "path"])
        out = {(r["host"], r["path"]): r["allowed"]
               for r in robots_gate(urls, rules).collect()}
        assert out[("t.com", "/a/deny")] is False
        assert out[("t.com", "/a/b/allow")] is True
        assert out[("t.com", "/x/tie")] is True
        assert out[("t.com", "/free")] is True           # no matching rule
        assert out[("none.com", "/whatever")] is True    # no robots row

    def test_broadcast_opt_out_parity_and_plan(self, spark):
        from hades_spark.operators.robots import (robots_gate,
                                                  robots_rules_df)

        robots = spark.createDataFrame(
            [("t.com", "User-agent: *\nDisallow: /no/")],
            ["host", "robots_txt"])
        rules = robots_rules_df(robots)
        urls = spark.createDataFrame(
            [("t.com", "/no/1"), ("t.com", "/yes")], ["host", "path"])
        a = sorted(map(tuple, robots_gate(urls, rules).collect()))
        b = sorted(map(tuple, robots_gate(
            urls, rules, broadcast_rules=False).collect()))
        assert a == b
        plan = robots_gate(urls, rules) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_literal_startswith_equals_regex_path(self, spark):
        from hades_spark.operators.robots import (robots_gate,
                                                  robots_rules_df)

        robots = spark.createDataFrame([
            ("t.com", "User-agent: *\nDisallow: /a+b/\nAllow: /a+b/(ok)/"),
        ], ["host", "robots_txt"])    # regex-special chars in literals
        rules = robots_rules_df(robots)
        assert all(r["is_literal"] for r in rules.collect())
        urls = spark.createDataFrame(
            [("t.com", "/a+b/x"), ("t.com", "/a+b/(ok)/y"),
             ("t.com", "/aab/x")], ["host", "path"])
        fast = sorted(map(tuple, robots_gate(urls, rules).collect()))
        slow = sorted(map(tuple, robots_gate(
            urls, rules.withColumn("is_literal", F.lit(False))).collect()))
        assert fast == slow           # startswith path == regex path
        out = dict(((h, p), a) for h, p, a in fast)
        assert out[("t.com", "/a+b/x")] is False
        assert out[("t.com", "/a+b/(ok)/y")] is True
        assert out[("t.com", "/aab/x")] is True


class TestSitemaps:
    """operators/robots.py — Sitemap directives + <loc> extraction."""

    def test_robots_sitemaps(self):
        from hades_spark.operators.robots import robots_sitemaps

        txt = ("User-agent: *\nDisallow: /x\n"
               "Sitemap: https://a.com/s.xml\n"
               "# Sitemap: https://a.com/commented.xml\n"
               "sitemap:  https://a.com/s2.xml \n"
               "Sitemap:\n")               # empty value ignored
        assert robots_sitemaps(txt) == \
            ["https://a.com/s.xml", "https://a.com/s2.xml"]
        assert robots_sitemaps(None) == []

    def test_sitemap_locs(self, spark):
        from hades_spark.operators.robots import sitemap_locs

        xml = ("<urlset><url><loc> https://a.com/p?x=1&amp;y=2 </loc></url>"
               "<url><LOC>https://a.com/q</LOC></url>"
               "<url><loc>https://a.com/\nr</loc></url></urlset>")
        out = spark.createDataFrame([(xml,)], ["xml"]) \
            .select(sitemap_locs("xml").alias("l")).collect()[0]["l"]
        # order preserved, whitespace trimmed, &amp; decoded, (?s) spans \n
        assert out == ["https://a.com/p?x=1&y=2", "https://a.com/q",
                       "https://a.com/\nr"]
        empty = spark.createDataFrame([("<urlset/>",)], ["xml"]) \
            .select(sitemap_locs("xml").alias("l")).collect()[0]["l"]
        assert empty == []


class TestQualityNullText:
    """review findings: NULL text must not drop docs or break oracles."""

    def test_line_dedup_null_text_keeps_row(self, spark):
        from hades_spark.operators.quality import line_dedup

        df = spark.createDataFrame(
            [(1, None), (2, "a\nb"), (3, "a\nc"), (4, "a\nd")],
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in line_dedup(df, min_docs=3).collect()}
        assert sorted(out) == [1, 2, 3, 4]          # nobody dropped
        assert out[1]["text"] == "" and out[1]["n_lines"] == 1
        assert out[1]["n_removed"] == 0
        assert out[2]["text"] == "b"                # 'a' was boilerplate

    def test_repetition_signals_null_text_zero_row(self, spark):
        from hades_spark.operators.quality import repetition_signals

        df = spark.createDataFrame([(1, None), (2, "x y")],
                                   "doc_id long, text string")
        rows = {r["doc_id"]: r for r in repetition_signals(df).collect()}
        assert rows[1]["n_words"] == 0
        assert rows[1]["word_chars"] == 0
        assert rows[1]["dup_gram_frac"] == 0.0


class TestAnchorPairs:
    """functions/urls.extract_anchor_pairs — anchor-text extraction."""

    def test_pairs_and_plain_texting(self, spark):
        from hades_spark.functions.urls import extract_anchor_pairs

        df = spark.createDataFrame([(
            '<a href="http://a.com/x"><b>Bold</b> link</a>'
            "<a class='z' href='http://b.com'>spaced  text\nwrapped</a>"
            '<a name="no-href">anchor only</a>'
            '<A HREF="http://c.com">CAPS</A>',)], ["html"])
        out = [tuple(p) for p in
               df.select(extract_anchor_pairs("html").alias("p"))
                 .collect()[0]["p"]]
        assert out == [
            ("http://a.com/x", "Bold link"),     # inner tags stripped
            ("http://b.com", "spaced text wrapped"),  # ws collapsed
            ("", "anchor only"),                 # href-less: empty href
            ("http://c.com", "CAPS"),            # case-insensitive
        ]

    def test_no_anchors(self, spark):
        from hades_spark.functions.urls import extract_anchor_pairs

        df = spark.createDataFrame([("<p>none</p>",), (None,)],
                                   "html string")
        rows = df.select(extract_anchor_pairs("html").alias("p")).collect()
        assert rows[0]["p"] == []
        assert rows[1]["p"] is None             # NULL html passes through


class TestHrefAnchorFuzz:
    """Property fuzz: the Spark (Java regex) extraction of hrefs/anchors
    equals a Python `re` reference on adversarial markup — pinning the
    cross-engine regex subset the DuckDB oracles also rely on."""

    @staticmethod
    def _py_hrefs(html: str) -> list[str]:
        import re as _re

        dq = _re.findall(r'(?i)(?:^|[^\w-])href\s*=\s*"([^"]*)"', html)
        sq = _re.findall(r"(?i)(?:^|[^\w-])href\s*=\s*'([^']*)'", html)
        return dq + sq

    @staticmethod
    def _py_pairs(html: str) -> list[tuple]:
        import re as _re

        out = []
        for t in _re.findall(r"(?is)<a\b[^>]*>.*?</a>", html):
            m = _re.search(r'(?i)(?:^|[^\w-])href\s*=\s*"([^"]*)"', t)
            href = m.group(1) if m and m.group(1) != "" else ""
            if href == "":
                m2 = _re.search(
                    r"(?i)(?:^|[^\w-])href\s*=\s*'([^']*)'", t)
                href = m2.group(1) if m2 else ""
            inner_m = _re.search(r"(?is)>(.*)</a>$", t)
            inner = inner_m.group(1) if inner_m else ""
            anchor = _re.sub(r"\s+", " ",
                             _re.sub(r"(?s)<[^>]*>", " ", inner)).strip()
            out.append((href, anchor))
        return out

    def test_fuzz_against_python_re(self, spark):
        import random

        from hades_spark.functions.urls import (extract_anchor_pairs,
                                                extract_hrefs)

        rng = random.Random(20260820)
        frags = ['<a href="', "<a href='", '">x</a>', "'>y</a>", "</a>",
                 "<a ", 'href = "u1"', "HREF='u2'", "data-href=\"t\"",
                 '<b>z</b>', '"', "'", ">", "<", " ", "\n", "\t",
                 "plain", "href", "=", 'xhref="v"', "<a>bare</a>",
                 "a-href='w'", '<A Href="UP">c</A>']
        cases = ["".join(rng.choice(frags)
                         for _ in range(rng.randrange(1, 14)))
                 for _ in range(120)]
        df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                                   "i long, html string")
        got_h = {r["i"]: list(r["h"]) for r in
                 df.select("i", extract_hrefs("html").alias("h")).collect()}
        got_p = {r["i"]: [tuple(p) for p in r["p"]] for r in
                 df.select("i", extract_anchor_pairs("html").alias("p"))
                   .collect()}
        for i, c in enumerate(cases):
            assert got_h[i] == self._py_hrefs(c), (i, c)
            assert got_p[i] == self._py_pairs(c), (i, c)


class TestExciseSharedWindows:
    """operators/quality.excise_shared_windows — Lee-et-al-style exact
    shared-substring removal at token granularity."""

    def test_planted_passage_removed(self, spark):
        from hades_spark.operators.quality import excise_shared_windows

        df = spark.createDataFrame([
            (1, "alpha beta the quick brown fox jumps gamma"),
            (2, "delta the quick brown fox jumps epsilon zeta"),
            (3, "totally unique content here only once ever"),
            (4, None),
        ], "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               excise_shared_windows(df, n=5, min_docs=2).collect()}
        assert out[1]["text"] == "alpha beta gamma"
        assert out[2]["text"] == "delta epsilon zeta"
        assert (out[1]["n_removed"], out[2]["n_removed"]) == (5, 5)
        assert out[3]["n_removed"] == 0          # unique doc untouched
        assert out[4]["text"] == "" and out[4]["n_tokens"] == 0

    def test_overlapping_windows_union(self, spark):
        from hades_spark.operators.quality import excise_shared_windows

        # 6 shared tokens -> two overlapping 5-gram windows; covered
        # positions are the UNION (6 tokens), not double-counted
        df = spark.createDataFrame([
            (1, "x a b c d e f y"),
            (2, "z a b c d e f w"),
        ], "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               excise_shared_windows(df, n=5, min_docs=2).collect()}
        assert out[1]["text"] == "x y" and out[1]["n_removed"] == 6
        assert out[2]["text"] == "z w"

    def test_min_docs_threshold(self, spark):
        from hades_spark.operators.quality import excise_shared_windows

        df = spark.createDataFrame([
            (1, "p q r s t u"), (2, "p q r s t v"), (3, "m n o k l j"),
        ], "doc_id long, text string")
        # shared gram 'p q r s t' in 2 docs: survives min_docs=3
        out3 = {r["doc_id"]: r["n_removed"] for r in
                excise_shared_windows(df, n=5, min_docs=3).collect()}
        assert out3 == {1: 0, 2: 0, 3: 0}
        out2 = {r["doc_id"]: r["n_removed"] for r in
                excise_shared_windows(df, n=5, min_docs=2).collect()}
        assert out2 == {1: 5, 2: 5, 3: 0}

    def test_whole_doc_removed(self, spark):
        from hades_spark.operators.quality import excise_shared_windows

        df = spark.createDataFrame([
            (1, "a b c d e"), (2, "a b c d e"),
        ], "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               excise_shared_windows(df, n=5, min_docs=2).collect()}
        assert out[1]["text"] == "" and out[1]["n_removed"] == 5
        assert len(out) == 2                      # rows survive empty

    def test_validation(self, spark):
        from hades_spark.operators.quality import excise_shared_windows

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError, match="min_docs"):
            excise_shared_windows(df, min_docs=1)
        with pytest.raises(ValueError, match="n must"):
            excise_shared_windows(df, n=0)


class TestCollocationsPmi:
    def test_planted_collocation_tops(self, spark):
        from hades_spark.operators.lm import collocations_pmi

        # 'hong kong' always adjacent and exclusive; filler words mix
        rows = [(i, "hong kong " + " ".join(
            ["the", "of", "data", "the", "of"][j % 5]
            for j in range(i % 7 + 3))) for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = collocations_pmi(df, min_count=5, k=5).collect()
        assert (out[0]["x"], out[0]["y"]) == ("hong", "kong")
        assert out[0]["n_xy"] == 40
        # exclusive pair: pmi = ln(N_pairs / n_xy) + 2 ln(N_tokens/n_xy)
        # ... just check it's the strict max and positive
        assert out[0]["pmi"] > out[1]["pmi"] > 0 or out[1]["pmi"] <= 0

    def test_min_count_and_determinism(self, spark):
        from hades_spark.operators.lm import collocations_pmi

        df = spark.createDataFrame(
            [(1, "a b a b a b c d"), (2, "a b e f")],
            "doc_id long, text string")
        out = collocations_pmi(df, min_count=4, k=10).collect()
        assert [(r["x"], r["y"]) for r in out] == [("a", "b")]
        a = collocations_pmi(df.repartition(7), min_count=1, k=10).collect()
        b = collocations_pmi(df.repartition(2), min_count=1, k=10).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        import pytest as _pt
        with _pt.raises(ValueError, match="min_count"):
            collocations_pmi(df, min_count=0)

    def test_plan_takeordered(self, spark):
        from hades_spark.operators.lm import collocations_pmi

        df = spark.createDataFrame([(1, "a b c")],
                                   "doc_id long, text string")
        plan = collocations_pmi(df, min_count=1, k=5) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestEdit1Pairs:
    """operators/dedup.edit1_pairs — deletion-neighborhood blocking."""

    def test_exact_vs_brute_force(self, spark):
        from hades_spark.operators.dedup import edit1_pairs

        words = ["spark", "spork", "sprk", "sparkk", "hadoop", "hadop",
                 "flink", "blink", "clink", "a", "ab", "b", "ba", "abc"]
        df = spark.createDataFrame([(w,) for w in words], "s string")
        got = sorted(map(tuple, edit1_pairs(df).collect()))

        def lev(x, y):
            import functools

            @functools.lru_cache(maxsize=None)
            def d(i, j):
                if i == 0 or j == 0:
                    return i + j
                return min(d(i - 1, j) + 1, d(i, j - 1) + 1,
                           d(i - 1, j - 1) + (x[i - 1] != y[j - 1]))
            return d(len(x), len(y))

        want = sorted(tuple(sorted((a, b)))
                      for i, a in enumerate(words)
                      for b in words[i + 1:] if lev(a, b) == 1)
        assert got == want
        assert ("blink", "flink") in want        # brute-force sanity

    def test_distance_two_excluded_and_dirt(self, spark):
        from hades_spark.operators.dedup import edit1_pairs

        df = spark.createDataFrame(
            [("abcd",), ("abxy",), ("",), (None,), ("abcd",)], "s string")
        assert edit1_pairs(df).collect() == []   # d=2; dirt/dups ignored

    def test_bucket_cap_drops_hot_block(self, spark):
        from hades_spark.operators.dedup import edit1_pairs

        # 'xN' strings all share deletion-variant 'x' -> one hot block
        df = spark.createDataFrame([(f"x{i}",) for i in range(10)],
                                   "s string")
        full = edit1_pairs(df, max_bucket_size=1000).count()
        assert full == 45                        # all pairs are d=1
        capped = edit1_pairs(df, max_bucket_size=5).count()
        assert capped < full                     # hot block dropped


class TestProfileTable:
    def test_stats_and_topk(self, spark):
        from hades_spark.operators.profile import profile_table

        df = spark.createDataFrame([
            (1, "en", None), (2, "en", 5.0), (3, "de", 5.0),
            (4, "en", 7.5), (5, None, 7.5),
        ], "id long, lang string, score double")
        out = {r["column"]: r for r in
               profile_table(df, exact_distinct=True, top_k=2).collect()}
        assert set(out) == {"id", "lang", "score"}
        lang = out["lang"]
        assert (lang["n_rows"], lang["n_nulls"], lang["n_distinct"]) == \
            (5, 1, 2)
        assert (lang["min_value"], lang["max_value"]) == ("de", "en")
        assert lang["top_values"] == ["en", "de"]
        # native-typed min/max (NOT lexicographic on the string cast)
        big = spark.createDataFrame([(999.0,), (100006.33,)], "v double")
        prof = profile_table(big, exact_distinct=True).collect()[0]
        assert (prof["min_value"], prof["max_value"]) == \
            ("999.0", "100006.33")

    def test_all_null_column_and_validation(self, spark):
        from hades_spark.operators.profile import profile_table

        df = spark.createDataFrame([(1, None), (2, None)],
                                   "id long, z string")
        z = {r["column"]: r for r in
             profile_table(df, exact_distinct=True).collect()}["z"]
        assert (z["n_nulls"], z["n_distinct"]) == (2, 0)
        assert z["min_value"] is None and z["top_values"] == []
        with pytest.raises(ValueError, match="not in frame"):
            profile_table(df, ["nope"])
        with pytest.raises(ValueError, match="no columns"):
            profile_table(df, [])


class TestJaccardJoinExact:
    """operators/dedup.jaccard_join_exact — prefix-filter exactness."""

    def _brute(self, rows, t):
        out = []
        sets = {i: set(s.lower().split()) for i, s in rows if s and s.split()}
        ids = sorted(sets)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                inter = len(sets[a] & sets[b])
                u = len(sets[a] | sets[b])
                if u and inter / u >= t:
                    out.append((a, b, round(inter / u, 9)))
        return sorted(out)

    def test_randomized_vs_brute_force(self, spark):
        import random

        rng = random.Random(7)
        vocab = [f"w{i}" for i in range(30)]
        rows = [(i, " ".join(rng.sample(vocab, rng.randrange(3, 12))))
                for i in range(60)] + [(60, ""), (61, None)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        from hades_spark.operators.dedup import jaccard_join_exact

        for t in (0.5, 0.7, 0.9):
            got = sorted((r["a"], r["b"], round(r["jaccard"], 9))
                         for r in jaccard_join_exact(
                             df, threshold=t).collect())
            assert got == self._brute(rows, t), t

    def test_duplicate_tokens_and_threshold_validation(self, spark):
        from hades_spark.operators.dedup import jaccard_join_exact

        # token SETS: repeated words don't change the similarity
        df = spark.createDataFrame(
            [(1, "a a a b"), (2, "b a")], "doc_id long, text string")
        out = jaccard_join_exact(df, threshold=0.99).collect()
        assert [(r["a"], r["b"], r["jaccard"]) for r in out] == \
            [(1, 2, 1.0)]
        import pytest as _pt
        with _pt.raises(ValueError, match="threshold"):
            jaccard_join_exact(df, threshold=0.0)


class TestRollingZscore:
    def test_closed_form_and_spike(self, spark):
        from hades_spark.operators.temporal import rolling_zscore

        rows = [("a", i, 10.0) for i in range(8)] + [("a", 8, 22.0)] \
            + [("b", 0, 1.0), ("b", 1, 2.0)]
        df = spark.createDataFrame(rows, "k string, t int, v double")
        out = {(r["k"], r["t"]): r for r in
               rolling_zscore(df, ["k"], "t", "v",
                              window=24, min_history=4).collect()}
        # constant history -> std 0 -> NULL z even for the spike's prefix
        assert out[("a", 7)]["zscore"] is None
        # the spike at t=8 has 8 constant preceding values: std 0 -> NULL
        assert out[("a", 8)]["zscore"] is None
        # too little history
        assert out[("b", 1)]["zscore"] is None
        # varied history: hand-computed z
        rows2 = [("c", i, float(i % 3)) for i in range(6)] \
            + [("c", 6, 10.0)]
        df2 = spark.createDataFrame(rows2, "k string, t int, v double")
        z = {r["t"]: r for r in
             rolling_zscore(df2, ["k"], "t", "v",
                            window=24, min_history=4).collect()}
        import statistics

        hist = [0.0, 1.0, 2.0, 0.0, 1.0, 2.0]
        want = (10.0 - statistics.mean(hist)) / statistics.stdev(hist)
        assert abs(z[6]["zscore"] - want) < 1e-6
        with pytest.raises(ValueError, match="window"):
            rolling_zscore(df, ["k"], "t", "v", window=1)


class TestNegativeSamples:
    def test_contract(self, spark):
        from hades_spark.operators.graph_features import negative_samples

        e = spark.createDataFrame(
            [("a", "r", "b"), ("a", "r", "c"), ("b", "r", "d"),
             ("c", "q", "a")], "src string, rel string, dst string")
        out = negative_samples(e, k=8, seed=3).collect()
        rows = {(r["src"], r["rel"], r["dst_neg"]) for r in out}
        true = {("a", "r", "b"), ("a", "r", "c"), ("b", "r", "d"),
                ("c", "q", "a")}
        assert rows and not (rows & true)        # no false negatives
        ents = {"a", "b", "c", "d"}
        assert all(d in ents for _, _, d in rows)  # tails from the graph
        # deterministic across partitionings and reruns
        a = sorted(map(tuple, negative_samples(e, k=8, seed=3).collect()))
        b = sorted(map(tuple, negative_samples(
            e.repartition(7), k=8, seed=3).collect()))
        assert a == b
        # different seed -> different draw (overwhelmingly)
        c = sorted(map(tuple, negative_samples(e, k=8, seed=4).collect()))
        assert a != c
        with pytest.raises(ValueError, match="k must"):
            negative_samples(e, k=0)


class TestRandomWalks:
    def test_paths_follow_edges_and_truncate(self, spark):
        from hades_spark.operators.graph_features import random_walks

        e = spark.createDataFrame(
            [("a", "b"), ("b", "c")], "src string, dst string")
        out = {(r["start"], r["walk_id"]): list(r["path"]) for r in
               random_walks(e, walks_per_node=1, length=4,
                            seed=0).collect()}
        # deterministic chain: only one neighbor at each hop; c is a sink
        assert out[("a", 0)] == ["a", "b", "c"]      # truncated at sink
        assert out[("b", 0)] == ["b", "c"]
        assert out[("c", 0)] == ["c"]                # sink start

    def test_determinism_and_edge_validity(self, spark):
        import random

        from hades_spark.operators.graph_features import random_walks

        rng = random.Random(5)
        edges = list({(f"n{rng.randrange(12)}", f"n{rng.randrange(12)}")
                      for _ in range(40)})
        e = spark.createDataFrame(edges, "src string, dst string")
        walks = random_walks(e, walks_per_node=2, length=3, seed=9)
        rows = [(r["start"], r["walk_id"], tuple(r["path"]))
                for r in walks.collect()]
        eset = set(edges)
        for start, _, path in rows:
            assert path[0] == start
            for x, y in zip(path, path[1:]):
                assert (x, y) in eset              # every hop is an edge
        again = [(r["start"], r["walk_id"], tuple(r["path"])) for r in
                 random_walks(e.repartition(5), walks_per_node=2,
                              length=3, seed=9).collect()]
        assert sorted(rows) == sorted(again)
        with pytest.raises(ValueError, match="must be >= 1"):
            random_walks(e, walks_per_node=0)


class TestCdcChunks:
    def test_insertion_resync(self, spark):
        from hades_spark.operators.chunking import cdc_chunks

        base = ("the quick brown fox jumps over a lazy dog and runs far "
                "away into the night sky above town")
        df = spark.createDataFrame(
            [(1, base), (2, "HEAD EDIT TOKENS " + base), (3, None)],
            "doc_id long, text string")
        out = cdc_chunks(df, window=3, target=4, seed=1).collect()
        c1 = [r["chunk_text"] for r in sorted(
            (r for r in out if r["doc_id"] == 1),
            key=lambda r: r["chunk_idx"])]
        c2 = [r["chunk_text"] for r in out if r["doc_id"] == 2]
        # CDC re-synchronization: every original chunk AFTER the first
        # boundary reappears despite the head edit (the first chunk may
        # merge with the edited head — its START is the doc start).
        # Fixed windows shift every chunk instead.
        assert set(c1[1:]) <= set(c2)
        assert len(c1) > 2                        # property non-vacuous
        assert not [r for r in out if r["doc_id"] == 3]   # NULL: no rows
        # chunks reassemble to the original token stream, in order
        ordered = [r["chunk_text"] for r in sorted(
            (r for r in out if r["doc_id"] == 1),
            key=lambda r: r["chunk_idx"])]
        assert " ".join(ordered) == base

    def test_determinism_and_validation(self, spark):
        from hades_spark.operators.chunking import cdc_chunks

        df = spark.createDataFrame(
            [(i, f"tok{i} " * 20) for i in range(30)],
            "doc_id long, text string")
        a = sorted(map(tuple, cdc_chunks(df, seed=2).collect()))
        b = sorted(map(tuple,
                       cdc_chunks(df.repartition(7), seed=2).collect()))
        assert a == b
        with pytest.raises(ValueError, match="window"):
            cdc_chunks(df, window=0)


class TestAssociationRules:
    def test_closed_form(self, spark):
        from hades_spark.operators.assoc import association_rules

        rows = [(1, "milk"), (1, "bread"), (1, "eggs"), (2, "milk"),
                (2, "bread"), (3, "milk"), (4, "beer"), (4, "chips"),
                (5, "beer"), (5, "chips"), (5, "milk")]
        df = spark.createDataFrame(rows, "basket_id long, item string")
        out = {(r["antecedent"], r["consequent"]): r for r in
               association_rules(df, min_support=0.3).collect()}
        r = out[("milk", "bread")]
        assert (r["n_pair"], r["support"], r["confidence"], r["lift"]) \
            == (2, 0.4, 0.5, 1.25)
        assert out[("bread", "milk")]["confidence"] == 1.0  # asymmetric
        assert out[("beer", "chips")]["lift"] == 2.5
        # eggs (support .2 < .3) pruned before pairing
        assert not any("eggs" in k for k in out)

    def test_caps_and_validation(self, spark):
        from hades_spark.operators.assoc import association_rules

        wide = [(1, f"i{k}") for k in range(10)] + [(2, "a"), (2, "b"),
                                                    (3, "a"), (3, "b")]
        df = spark.createDataFrame(wide, "basket_id long, item string")
        out = association_rules(df, min_support=0.5, max_basket_size=5)
        keys = {(r["antecedent"], r["consequent"]) for r in out.collect()}
        assert keys == {("a", "b"), ("b", "a")}  # wide basket dropped
        # support denominator excludes the dropped basket (n = 2)
        sup = {r["antecedent"]: r["support"] for r in out.collect()}
        assert sup["a"] == 1.0
        with pytest.raises(ValueError, match="min_support"):
            association_rules(df, min_support=0)

    def test_data_href_not_a_pair(self, spark):
        from hades_spark.functions.urls import extract_anchor_pairs

        df = spark.createDataFrame([(
            '<a data-href="https://tracker.example/x">Read more</a>'
            '<a href="https://real.com">ok</a>',)], ["html"])
        out = [tuple(p) for p in
               df.select(extract_anchor_pairs("html").alias("p"))
                 .collect()[0]["p"]]
        # the tracker attribute is NOT an href; its element yields ''
        assert out == [("", "Read more"), ("https://real.com", "ok")]


class TestFunnelConversion:
    def test_ordered_matching(self, spark):
        import datetime as dt

        from hades_spark.operators.temporal import funnel_conversion

        T = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
        rows = [
            (1, "view", T(0)), (1, "click", T(5)), (1, "buy", T(9)),
            (2, "click", T(0)), (2, "view", T(5)), (2, "buy", T(9)),
            (3, "view", T(0)), (3, "buy", T(2)), (3, "click", T(4)),
            (4, "buy", T(0)),
            (5, "view", T(0)), (5, "view", T(1)), (5, "click", T(2)),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, event_type string, ts timestamp")
        out = {r["user_id"]: r for r in
               funnel_conversion(df, ["view", "click", "buy"]).collect()}
        assert [out[u]["depth"] for u in (1, 2, 3, 4, 5)] == \
            [3, 1, 2, 0, 2]
        # user 2: click BEFORE the earliest view never counts
        assert out[2]["ts_2"] is None
        # greedy-earliest: user 5's ts_1 is the FIRST view
        assert out[5]["ts_1"] == T(0)
        # every user emitted exactly once
        assert len(out) == 5
        import pytest as _pt
        with _pt.raises(ValueError, match="non-empty"):
            funnel_conversion(df, [])


class TestPostingLists:
    def test_impact_order_and_caps(self, spark):
        from hades_spark.operators.tfidf import build_posting_lists

        df = spark.createDataFrame(
            [(1, "spark spark hash"), (2, "hash join spark"),
             (3, "window only"), (4, None)],
            "doc_id long, text string")
        out = {r["term"]: r for r in
               build_posting_lists(df, max_postings=2).collect()}
        sp = [(p["doc_id"], p["tf"]) for p in out["spark"]["postings"]]
        assert sp == [(1, 2), (2, 1)]      # tf desc, doc asc
        assert out["spark"]["df"] == 2
        # cap truncates postings but NOT df
        wide = spark.createDataFrame(
            [(i, "common") for i in range(9)], "doc_id long, text string")
        w = build_posting_lists(wide, max_postings=3).collect()[0]
        assert w["df"] == 9 and len(w["postings"]) == 3
        assert [p["doc_id"] for p in w["postings"]] == [0, 1, 2]
        with pytest.raises(ValueError, match="max_postings"):
            build_posting_lists(df, max_postings=0)


class TestWinsorize:
    def test_clip_and_passthrough(self, spark):
        from hades_spark.operators.quantile import winsorize

        df = spark.range(1000).select(
            (F.col("id") / 10.0).alias("v"))
        out = winsorize(df, "v", 0.05, 0.95, n_bins=1000)
        r = out.agg(F.min("v_w").alias("lo"), F.max("v_w").alias("hi"),
                    F.count("*").alias("n")).collect()[0]
        assert r["n"] == 1000                   # no rows lost
        assert 4.5 <= r["lo"] <= 5.5            # ~5th percentile
        assert 94.0 <= r["hi"] <= 95.5          # ~95th percentile
        # interior values untouched
        mid = out.where((F.col("v") > 10) & (F.col("v") < 90)) \
                 .where(F.col("v") != F.col("v_w")).count()
        assert mid == 0
        # NULL passes through
        dn = spark.createDataFrame([(None,), (1.0,), (2.0,), (3.0,)],
                                   "v double")
        rows = {r["v"]: r["v_w"]
                for r in winsorize(dn, "v", 0.01, 0.99).collect()}
        assert rows[None] is None
        with pytest.raises(ValueError, match="p_lo"):
            winsorize(df, "v", 0.9, 0.1)


class TestKcorePeel:
    def test_triangle_survives_tail_dissolves(self, spark):
        from hades_spark.operators.graph import kcore_peel

        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
            "src string, dst string")
        out = {r["node"]: r["degree"]
               for r in kcore_peel(e, k=2, rounds=4).collect()}
        assert out == {"a": 2, "b": 2, "c": 2}
        # bounded rounds: a long chain peels one link per round
        chain = spark.createDataFrame(
            [(f"n{i}", f"n{i+1}") for i in range(10)],
            "src string, dst string")
        # each round peels one link off each end, and the final
        # degree>=k report filters the new boundary too: 11 nodes ->
        # 7 after one round, 5 after two, empty at the exact core
        assert kcore_peel(chain, k=2, rounds=1).count() == 7
        assert kcore_peel(chain, k=2, rounds=2).count() == 5
        assert kcore_peel(chain, k=2, rounds=10).count() == 0
        with pytest.raises(ValueError, match="rounds"):
            kcore_peel(e, k=2, rounds=0)


class TestReviewFixes14c:
    """third review pass regressions."""

    def test_winsorize_tiny_quantiles(self, spark):
        from hades_spark.operators.quantile import winsorize

        # p < 0.001 used to crash on the pivot's Double.toString name
        df = spark.range(10_000).select((F.col("id") * 1.0).alias("v"))
        r = winsorize(df, "v", 0.0001, 0.9999, n_bins=1000) \
            .agg(F.min("v_w").alias("a"), F.max("v_w").alias("b")) \
            .collect()[0]
        assert 0 <= r["a"] <= 20 and 9980 <= r["b"] <= 9999

    def test_kl_empty_slice_degrades_to_null(self, spark, sf_dir):
        from hades_spark.queries import SPARK_QUERIES

        # monkey-free check of the guard via a lang value no doc has:
        # run the real query fn but against a frame where every doc is
        # 'en' -> the 'other' slice is empty
        import hades_spark.queries as Q

        d = Q.load_table(spark, sf_dir, "documents") \
             .withColumn("lang", F.lit("en"))
        orig = Q.load_table
        try:
            Q.load_table = lambda s, sf, t: d if t == "documents" \
                else orig(s, sf, t)
            out = SPARK_QUERIES["text_unigram_kl"](spark, sf_dir).collect()
        finally:
            Q.load_table = orig
        assert len(out) == 1
        assert out[0]["kl_en_vs_other"] is None
        assert out[0]["vocab"] > 0

    def test_streaming_exact_rejected(self, spark):
        from hades_spark.streaming.incremental import windowed_distinct_users

        src = spark.readStream.format("rate").load().select(
            F.col("timestamp").alias("ts"),
            F.col("value").alias("user_id"),
            F.lit("a").alias("event_type"))
        with pytest.raises(ValueError, match="exact=True requires"):
            windowed_distinct_users(src, streaming=True, exact=True)
