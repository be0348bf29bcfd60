"""The benchmark's workloads.

Each workload has three parts:

``prepare(seed, root)``     set-up: writes the inputs (and any reference
                            the engine consumes) under ``root``
``run(ctx, inp)``           the timed pass, every engine call through
                            ``ctx.op`` so it is counted and timed
``check(ctx, inp, out)``    outside the timed window: compares the pass's
                            outputs with an independent reference and
                            returns (matched, expected)
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads

import gen
import reference

# ---------------------------------------------------------------------------
# registry queries


def check_queries(ctx, con, specs, results: dict) -> tuple[int, int]:
    """Compare collected query results with each query's DuckDB oracle:
    (reference rows reproduced, reference rows)."""
    matched = expected = 0
    for spec in specs:
        cur = con.execute(spec.oracle)
        dcols = [d[0] for d in cur.description]
        scols, srows = results[spec.name]
        m, e = reference.compare_rows(scols, srows, dcols, cur.fetchall())
        ctx.note_check(spec.name, m == e, f"{m} of {e} rows")
        matched += m
        expected += e
    return matched, expected


# ---------------------------------------------------------------------------
# llm_data_pipeline

# The quality filter's stopwords (functions.text.EN_STOPWORDS) and the
# gate's language set, restated so the reference does not read them from
# the engine it checks.
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
_LANGS = ("en", "de", "fr", "es", "zh")


class LlmDataPipeline:
    """The training-data chain: gate → quality → LM band → exact dedup →
    substring scrub → near-dup clusters → canonical → PageRank prior →
    mixture sample → shard packing → partitioned write. The kept corpus
    is then indexed for incremental ingest: a persisted dedup index is
    written, a batch appended to it, and a lookup batch served from the
    grown index. A registry query reports on the corpus through
    ``builder(spark, dir)``."""

    name = "llm_data_pipeline"
    N_DOCS = 2000
    DUP_SHARE = 0.08
    NEAR_SHARE = 0.08
    BATCH_DOCS, LOOKUP_DOCS = 200, 100
    REPORT_QUERIES = ("q136_tfidf_top_terms",)
    planned_ops = 10 + 3 + len(REPORT_QUERIES)

    def __init__(self, n_cpu: int):
        self.n_files = n_cpu
        from pyspark_mrdf_spark.queries import load_all

        reg = load_all()
        self.reports = [reg[q] for q in self.REPORT_QUERIES]

    def sizes(self) -> dict:
        return {
            "documents": self.N_DOCS,
            "exact_dup_share": self.DUP_SHARE,
            "near_dup_share": self.NEAR_SHARE,
            "files": self.n_files,
            "ingest_batch_docs": self.BATCH_DOCS,
            "lookup_docs": self.LOOKUP_DOCS,
            "report_queries": list(self.REPORT_QUERIES),
        }

    def prepare(self, seed: int, root: str) -> dict:
        docs = gen.documents_table(seed, 0, self.N_DOCS, self.DUP_SHARE, self.NEAR_SHARE)
        path = os.path.join(root, "documents.parquet")
        gen.write_table(docs, path, self.n_files)
        # ingest batch: fresh docs; lookups: every other one a verbatim
        # copy of a corpus or batch doc, so serves find duplicates
        batch = gen.documents_table(seed, 100, self.BATCH_DOCS, id_base=1_000_000)
        gen.write_table(batch, os.path.join(root, "ingest_batch"), 1)
        lookups = gen.documents_table(seed, 200, self.LOOKUP_DOCS, id_base=2_000_000)
        pool = docs.column("text").to_pylist() + batch.column("text").to_pylist()
        rng = gen.rng_for(seed, 9)
        texts = lookups.column("text").to_pylist()
        for j in range(0, len(texts), 2):
            texts[j] = pool[int(rng.integers(0, len(pool)))]
        lookups = lookups.set_column(1, "text", [texts]).set_column(
            4, "n_chars", [np.asarray([len(t) for t in texts], dtype=np.int64)]
        )
        gen.write_table(lookups, os.path.join(root, "lookups"), 1)
        return {"root": root, "docs": path, "out": os.path.join(root, "shards"),
                "index": os.path.join(root, "dedup_index")}

    def run(self, ctx, inp: dict) -> dict:
        from pyspark.sql import functions as F

        from pyspark_mrdf_spark.functions import text as T
        from pyspark_mrdf_spark.io import load_table, write_partitioned
        from pyspark_mrdf_spark.operators import dedup as D
        from pyspark_mrdf_spark.operators.dedup_index import append_dedup_index, write_dedup_index
        from pyspark_mrdf_spark.operators.graph import pagerank
        from pyspark_mrdf_spark.operators.lm import lm_score, lm_train
        from pyspark_mrdf_spark.operators.quality import (
            InSet, NotNull, Satisfies, Unique, quality_report,
        )
        from pyspark_mrdf_spark.queries.pipeline import (
            mixture_rate_col, mixture_uniform_col, shard_id_col,
        )

        spark = ctx.spark
        st: dict[str, int] = {}

        def ingest():
            d = load_table(spark, inp["root"], "documents").localCheckpoint()
            return d, d.count()

        docs, st["ingested"] = ctx.op("stage", "ingest", ingest)

        def gate():
            rows = quality_report(
                docs,
                [NotNull("text"), Unique("doc_id"), InSet("lang", _LANGS),
                 Satisfies("n_chars = length(text)", "n_chars_consistent")],
            ).collect()
            violations = sum(int(r["violations"]) for r in rows)
            if violations:
                raise RuntimeError(f"promotion gate failed: {rows}")
            return violations

        st["gate_violations"] = ctx.op("stage", "gate", gate)

        def quality():
            q = docs.filter((T.n_tokens("text") >= 20) & (T.stopword_hits("text") > 0)).localCheckpoint()
            return q, q.count()

        qual, st["quality_pass"] = ctx.op("stage", "quality_filter", quality)

        def band():
            tri, bi, uni = lm_train(qual)
            keep = lm_score(qual, tri, bi, uni).filter(F.col("mean_score_e6") >= 20_000)
            b = qual.join(keep.select("doc_id"), "doc_id").localCheckpoint()
            return b, b.count()

        banded, st["lm_band_pass"] = ctx.op("stage", "lm_band", band)

        def exact_dedup():
            keep = banded.groupBy(F.md5("text").alias("fp")).agg(F.min("doc_id").alias("doc_id"))
            e = banded.join(keep.select("doc_id"), "doc_id").localCheckpoint()
            return e, e.count()

        exact, st["after_exact_dedup"] = ctx.op("stage", "exact_dedup", exact_dedup)

        def scrub():
            s = D.scrub_dup_substrings(exact)
            e = (
                exact.drop("text")
                .join(s.select("doc_id", F.col("clean_text").alias("text")), "doc_id")
                .localCheckpoint()
            )
            removed = e.selectExpr("sum(n_chars - length(text))").collect()[0][0]
            return e, int(removed or 0)

        scrubbed, st["scrubbed_chars_removed"] = ctx.op("stage", "scrub", scrub)

        def near_dups():
            pairs = D.jaccard_pairs(scrubbed, n=3).filter(F.col("jaccard") >= 0.1)
            cl = D.connected_components(pairs).localCheckpoint()
            n_cl = cl.select("cluster_id").distinct().count()
            canon = (
                scrubbed.join(cl, "doc_id", "left")
                .filter(F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
                .drop("cluster_id")
                .localCheckpoint()
            )
            return canon, n_cl, canon.count()

        canonical, st["near_dup_clusters"], st["canonical"] = ctx.op("stage", "near_dup", near_dups)

        def link_prior():
            n = st["ingested"]
            did = F.col("doc_id")
            edges = docs.select(
                did.alias("src"),
                F.explode(
                    F.slice(
                        F.array((did * 7 + 1) % n, (did * 13 + 2) % n, (did * 29 + 3) % n),
                        1,
                        (did % 3 + 1).cast("int"),
                    )
                ).alias("dst"),
            )
            ranks = pagerank(edges, nodes=docs.select(did.alias("node")), n_iter=5).localCheckpoint()
            cut = ranks.selectExpr("percentile_disc(0.1) WITHIN GROUP (ORDER BY p)").collect()[0][0]
            w = (
                canonical.join(ranks.withColumnRenamed("node", "doc_id"), "doc_id")
                .filter(F.col("p") >= cut)
                .drop("p")
                .localCheckpoint()
            )
            return w, w.count()

        weighted, st["link_quality_pass"] = ctx.op("stage", "link_prior", link_prior)

        def mixture():
            m = weighted.filter(mixture_uniform_col() < mixture_rate_col()).localCheckpoint()
            return m, m.count()

        mixed, st["mixture_sampled"] = ctx.op("stage", "mixture", mixture)

        def write():
            tok = T.n_tokens("text").cast("bigint")
            packed = mixed.select("doc_id", "source", "lang", "text", shard_id_col(tok).alias("shard_id"))
            write_partitioned(packed, inp["out"], ["source", "shard_id"])

        ctx.op("stage", "write", write)

        batch = spark.read.parquet(os.path.join(inp["root"], "ingest_batch"))
        lookups = spark.read.parquet(os.path.join(inp["root"], "lookups"))
        ctx.op("index", "index_write", lambda: write_dedup_index(mixed, inp["index"]))
        ctx.op("index", "index_append", lambda: append_dedup_index(spark, inp["index"], batch))
        served = ctx.op("index", "index_serve", lambda: self._serve(spark, inp["index"], lookups))
        reports = {
            spec.name: ctx.op("query", spec.name, lambda s=spec: ctx.run_query(s, inp["root"]))
            for spec in self.reports
        }
        return {"stages": st, "reports": reports, "served": served}

    @staticmethod
    def _serve(spark, path: str, lookups) -> list[int]:
        from pyspark_mrdf_spark.operators.dedup_index import near_dedup_against_index, read_dedup_index

        kept = near_dedup_against_index(lookups, read_dedup_index(spark, path)).select("doc_id").collect()
        return sorted(r["doc_id"] for r in kept)

    @staticmethod
    def written(out_dir: str) -> tuple[int, int, int, int]:
        """(rows, distinct (source, shard_id), files, bytes) of the sink."""
        ds = pads.dataset(out_dir, format="parquet", partitioning="hive")
        t = ds.to_table(columns=["source", "shard_id"])
        keys = set(zip(t.column("source").to_pylist(), t.column("shard_id").to_pylist()))
        return t.num_rows, len(keys), len(ds.files), sum(os.path.getsize(f) for f in ds.files)

    @staticmethod
    def reference_stages(con, docs_path: str) -> dict[str, int]:
        """The same chain in DuckDB. Stages that share a registry query's
        semantics run that query's oracle SQL over the stage's input
        (bound to the name ``documents``); ``documents`` is left bound to
        the whole corpus."""
        from pyspark_mrdf_spark.queries import load_all

        reg = load_all()
        sql = {q: reg[q].oracle for q in (
            "q110_lm_quality_filter", "q109_substring_scrub", "q72_dup_clusters",
            "q113_pagerank_quality", "q71_mixture_sample", "q70_shard_packing",
        )}
        marker = "SELECT doc_id, md5(clean_text)"
        if marker not in sql["q109_substring_scrub"]:
            raise RuntimeError("q109 oracle changed shape; update the pipeline reference")
        scrub_sql = sql["q109_substring_scrub"].rsplit(marker, 1)[0] + "SELECT doc_id, clean_text FROM scrubbed"
        # q72's near-duplicate pairs; its recursive closure (19 s on 4000
        # docs in DuckDB) is replaced by a union-find below
        pairs_sql, sep, _ = sql["q72_dup_clusters"].partition("und AS (")
        if not sep or "pairs AS (" not in pairs_sql:
            raise RuntimeError("q72 oracle changed shape; update the pipeline reference")
        pairs_sql = pairs_sql.rstrip().rstrip(",") + "\nSELECT doc_a, doc_b FROM pairs"
        st: dict[str, int] = {}

        def one(q: str):
            return con.execute(q).fetchone()[0]

        def as_documents(table: str) -> None:
            con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM {table}")

        con.execute(f"CREATE TABLE docs AS SELECT * FROM '{docs_path}/*.parquet'")
        st["ingested"] = one("SELECT count(*) FROM docs")
        langs = ", ".join(f"'{x}'" for x in _LANGS)
        st["gate_violations"] = one(
            "SELECT CAST(count(*) - count(text) + count(*) - count(DISTINCT doc_id)"
            f" + count(*) FILTER (WHERE lang IS NULL OR lang NOT IN ({langs}))"
            " + count(*) FILTER (WHERE n_chars IS DISTINCT FROM length(text)) AS BIGINT) FROM docs"
        )
        sw = ", ".join(f"'{x}'" for x in _STOPWORDS)
        con.execute(
            "CREATE TABLE qual AS SELECT * FROM docs WHERE len(string_split(text, ' ')) >= 20"
            f" AND len(list_filter(string_split(text, ' '), x -> x IN ({sw}))) > 0"
        )
        st["quality_pass"] = one("SELECT count(*) FROM qual")
        as_documents("qual")
        con.execute(
            f"CREATE TABLE banded AS SELECT q.* FROM qual q JOIN ({sql['q110_lm_quality_filter']}) l"
            " USING (doc_id) WHERE l.keep"
        )
        st["lm_band_pass"] = one("SELECT count(*) FROM banded")
        con.execute(
            "CREATE TABLE exact AS SELECT * FROM banded WHERE doc_id IN"
            " (SELECT min(doc_id) FROM banded GROUP BY md5(text))"
        )
        st["after_exact_dedup"] = one("SELECT count(*) FROM exact")
        as_documents("exact")
        con.execute(
            "CREATE TABLE scrubbed AS SELECT e.doc_id, e.lang, e.source, e.n_chars, s.clean_text AS text"
            f" FROM exact e JOIN ({scrub_sql}) s USING (doc_id)"
        )
        st["scrubbed_chars_removed"] = one(
            "SELECT CAST(coalesce(sum(n_chars - length(text)), 0) AS BIGINT) FROM scrubbed"
        )
        as_documents("scrubbed")
        clusters = reference.min_id_components(con.execute(pairs_sql).fetchall())
        con.register("cl_rows", pa.table({"doc_id": pa.array(list(clusters), pa.int64()),
                                          "cluster_id": pa.array(list(clusters.values()), pa.int64())}))
        con.execute("CREATE TABLE cl AS SELECT * FROM cl_rows")
        st["near_dup_clusters"] = one("SELECT count(DISTINCT cluster_id) FROM cl")
        con.execute(
            "CREATE TABLE canonical AS SELECT s.* FROM scrubbed s LEFT JOIN cl USING (doc_id)"
            " WHERE cl.cluster_id IS NULL OR cl.cluster_id = s.doc_id"
        )
        st["canonical"] = one("SELECT count(*) FROM canonical")
        as_documents("docs")
        con.execute(f"CREATE TABLE ranks AS {sql['q113_pagerank_quality']}")
        con.execute(
            "CREATE TABLE weighted AS SELECT c.* FROM canonical c JOIN ranks r USING (doc_id)"
            " WHERE r.rank_e12 >= (SELECT percentile_disc(0.1) WITHIN GROUP (ORDER BY rank_e12) FROM ranks)"
        )
        st["link_quality_pass"] = one("SELECT count(*) FROM weighted")
        as_documents("weighted")
        con.execute(
            "CREATE TABLE mixed AS SELECT * FROM weighted WHERE doc_id IN"
            f" (SELECT doc_id FROM ({sql['q71_mixture_sample']}))"
        )
        st["mixture_sampled"] = one("SELECT count(*) FROM mixed")
        as_documents("mixed")
        con.execute(f"CREATE TABLE packed AS {sql['q70_shard_packing']}")
        st["rows_written"] = one("SELECT count(*) FROM packed")
        st["shards_written"] = one("SELECT count(*) FROM (SELECT DISTINCT source, shard_id FROM packed)")
        as_documents("docs")
        return {k: int(v) for k, v in st.items()}

    def check(self, ctx, inp: dict, out: dict) -> tuple[int, int]:
        """Stage counts against the DuckDB chain, the written shards as
        read back by pyarrow, the grown dedup index's answers against
        q122's oracle SQL over the union of the indexed docs, and the
        report queries against their oracles."""
        files = [os.path.join(d, f) for d, _, fs in os.walk(inp["index"]) for f in fs if f.endswith(".parquet")]
        ctx.counts["dedup_index.files"] += len(files)
        ctx.counts["dedup_index.mb_on_disk"] += sum(os.path.getsize(f) for f in files) / 1e6

        got = dict(out["stages"])
        rows, shards, n_files, nbytes = self.written(inp["out"])
        got["rows_written"], got["shards_written"] = rows, shards
        ctx.counts["io.files_written"] += n_files
        ctx.counts["io.mb_written"] += nbytes / 1e6
        con = reference.duck_con()
        try:
            ref = self.reference_stages(con, inp["docs"])
            matched = 0
            for k, v in ref.items():
                ok = got.get(k) == v
                ctx.note_check(f"stage:{k}", ok, f"engine {got.get(k)} vs reference {v}")
                matched += ok
            kept = self.reference_serve(con, inp["root"])
            ok_index = kept == out["served"]
            ctx.note_check("dedup_index_serve", ok_index, f"engine kept {len(out['served'])}, reference {len(kept)}")
            m, e = check_queries(ctx, con, self.reports, out["reports"])
        finally:
            con.close()
        return matched + m + ok_index, len(ref) + e + 1

    @staticmethod
    def reference_serve(con, root: str) -> list[int]:
        """Lookups that survive near-dedup against the grown index, by
        q122's oracle SQL with its batch replaced by the lookups and
        ``documents`` bound to the indexed docs (the reference chain's
        kept corpus plus the ingest batch)."""
        from pyspark_mrdf_spark.queries import load_all

        sql = load_all()["q122_persisted_dedup_index"].oracle
        head, sep, tail = sql.partition("bpost AS")
        if not head.lstrip().startswith("WITH batch AS") or not sep:
            raise RuntimeError("q122 oracle changed shape; update the pipeline reference")
        con.execute(f"CREATE TABLE lookups AS SELECT * FROM '{root}/lookups/*.parquet'")
        con.execute(
            "CREATE OR REPLACE VIEW documents AS SELECT doc_id, text FROM mixed"
            f" UNION ALL SELECT doc_id, text FROM '{root}/ingest_batch/*.parquet'"
        )
        rows = con.execute("WITH batch AS (SELECT doc_id, text FROM lookups),\nbpost AS" + tail).fetchall()
        con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM docs")
        return sorted(r[0] for r in rows)


# ---------------------------------------------------------------------------
# index_maintenance


class IndexMaintenance:
    """Build an MRDF k-NN graph of the base vectors and score it, then
    ROUNDS rounds of (append a batch to the graph) + (serve a batch of
    lookups from it)."""

    name = "index_maintenance"
    N_BASE, DIM, K, CLUSTERS = 2000, 64, 10, 20
    ALPHA, RHO, TAU, FORESTS = 250, 3, 0.01, 2
    ROUNDS, BATCH_VECS, QUERY_VECS = 2, 50, 50
    QUERY_ID_BASE = 50_000_000
    planned_ops = 1 + 2 * ROUNDS

    def __init__(self, n_cpu: int):
        self.n_files = n_cpu

    def sizes(self) -> dict:
        return {
            "base_vectors": self.N_BASE, "dim": self.DIM, "k": self.K, "clusters": self.CLUSTERS,
            "alpha": self.ALPHA, "rho": self.RHO, "tau": self.TAU, "forests": self.FORESTS,
            "rounds": self.ROUNDS, "batch_vectors": self.BATCH_VECS,
            "query_vectors": self.QUERY_VECS, "files": self.n_files,
        }

    def prepare(self, seed: int, root: str) -> dict:
        n, r, m, q = self.N_BASE, self.ROUNDS, self.BATCH_VECS, self.QUERY_VECS
        x = gen.mixture(seed, 0, n + r * m + r * q, self.DIM, self.CLUSTERS)
        base, batches, queries = x[:n], x[n : n + r * m], x[n + r * m :]
        gen.write_vecs(os.path.join(root, "base"), base, self.n_files)
        gt = reference.exact_knn(base, base, self.K, exclude_self=True)
        gen.write_vecs(os.path.join(root, "gt"), gt, self.n_files)
        for i in range(r):
            gen.write_vecs(os.path.join(root, f"batch{i}"), batches[i * m : (i + 1) * m], 1)
            gen.write_vecs(os.path.join(root, f"query{i}"), queries[i * q : (i + 1) * q], 1)
        return {"root": root, "gt": gt, "grown": x[: n + r * m]}

    def _vecs(self, spark, root: str, name: str, id_base: int):
        from pyspark.sql import functions as F

        from pyspark_mrdf_spark.sources.fvecs import read_fvecs

        df = read_fvecs(spark, os.path.join(root, name))
        return df.withColumn("vec_id", F.col("vec_id") + F.lit(id_base))

    def _batch(self, spark, root: str, i: int):
        return self._vecs(spark, root, f"batch{i}", self.N_BASE + i * self.BATCH_VECS)

    def _lookup(self, graph, corpus, queries) -> list[tuple]:
        from pyspark_mrdf_spark.operators.graph_search import graph_knn_search

        rows = graph_knn_search(queries, graph, corpus, self.K).select("src", "dst", "rnk").collect()
        return sorted(tuple(r) for r in rows)

    def run(self, ctx, inp: dict) -> dict:
        from pyspark.sql import functions as F

        from pyspark_mrdf_spark.algorithms.graph_append import knn_graph_append
        from pyspark_mrdf_spark.algorithms.mrdf import knn_graph
        from pyspark_mrdf_spark.algorithms.recall import recall_vs_groundtruth
        from pyspark_mrdf_spark.sources.fvecs import read_ivecs

        spark, root, k = ctx.spark, inp["root"], self.K
        out: dict = {"serves": [], "forests": []}

        def build():
            base = self._vecs(spark, root, "base", 0).localCheckpoint()
            kw = {"metrics_out": out["forests"]} if ctx.trace else {}
            g = knn_graph(
                base, k, alpha=self.ALPHA, rho=self.RHO, tau=self.TAU, seed=7,
                max_iter=self.FORESTS, auto_escalate=False, **kw,
            )
            gt = read_ivecs(spark, os.path.join(root, "gt")).select(
                F.col("vec_id").alias("id"), F.col("components").alias("true_neighbors")
            )
            return base, g, recall_vs_groundtruth(g, gt, k)

        base, graph, out["recall"] = ctx.op("build", "build", build)
        out["base"], out["base_graph"], corpus = base, graph, base
        for i in range(self.ROUNDS):
            def append(i=i, graph=graph, corpus=corpus):
                batch = self._batch(spark, root, i).localCheckpoint()
                g = knn_graph_append(graph, corpus, batch, k, mode="exact", materialize=True)
                return g, corpus.unionByName(batch)

            graph, corpus = ctx.op("append", f"append{i}", append)
            queries = self._vecs(spark, root, f"query{i}", self.QUERY_ID_BASE + i * self.QUERY_VECS)
            out["serves"].append(
                ctx.op("serve", f"serve{i}", lambda g=graph, c=corpus, q=queries: self._lookup(g, c, q))
            )
        out["graph"], out["corpus"], out["queries"] = graph, corpus, queries
        return out

    def check(self, ctx, inp: dict, out: dict) -> tuple[int, int]:
        """Recall against NumPy; every appended vector's neighbour list
        in the grown graph against NumPy brute force over the grown
        corpus (exact appends promise exact lists for new nodes); and a
        from-scratch rebuild: one exact append of every batch onto the
        base graph must equal the chain of per-round appends and answer
        the last lookups identically."""
        from pyspark_mrdf_spark.algorithms.graph_append import knn_graph_append

        spark, root, k, n = ctx.spark, inp["root"], self.K, self.N_BASE
        edges = out["base_graph"].select("src", "dst").collect()
        truth = {(i, int(j)) for i, row in enumerate(inp["gt"]) for j in row[:k]}
        np_recall = len(truth & {(int(r["src"]), int(r["dst"])) for r in edges}) / len(truth)
        ok_recall = abs(np_recall - out["recall"]) < 1e-12
        ctx.note_check("recall", ok_recall, f"engine {out['recall']} vs numpy {np_recall}")

        grown = sorted(tuple(r) for r in out["graph"].select("src", "dst", "rnk").collect())
        new_rows: dict[int, list[tuple[int, int]]] = {}
        for src, dst, rnk in grown:
            if src >= n:
                new_rows.setdefault(src, []).append((int(rnk), int(dst)))
        union = inp["grown"]
        want = reference.exact_knn(union, union[n:], k, exclude_self=True, first_id=n)
        bad = [
            n + i for i, row in enumerate(want)
            if [d for _, d in sorted(new_rows.get(n + i, []))] != row.tolist()
        ]
        ok_new = not bad
        ctx.note_check("appended_vs_numpy", ok_new, f"{len(bad)} of {len(want)} appended vectors differ, e.g. {bad[:3]}")

        batches = self._batch(spark, root, 0)
        for i in range(1, self.ROUNDS):
            batches = batches.unionByName(self._batch(spark, root, i))
        rebuilt = knn_graph_append(out["base_graph"], out["base"], batches, k, mode="exact", materialize=True)
        fresh = sorted(tuple(r) for r in rebuilt.select("src", "dst", "rnk").collect())
        ok_graph = grown == fresh
        ctx.note_check("graph_rebuild", ok_graph, f"{len(grown)} vs {len(fresh)} edges")
        ok_serve = self._lookup(rebuilt, out["corpus"], out["queries"]) == out["serves"][-1]
        ctx.note_check("serve_rebuild", ok_serve)

        if out["forests"]:
            ctx.counts["mrdf.forests"] += len(out["forests"])
            ctx.counts["mrdf.divisions"] += sum(f["divisions"] for f in out["forests"])
        return ok_recall + ok_new + ok_graph + ok_serve, 4


WORKLOADS = {w.name: w for w in (LlmDataPipeline, IndexMaintenance)}
