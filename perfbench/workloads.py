"""The benchmark workloads.

Each workload has a numpy-only ``generate`` (run before Spark starts), a
``run_pass`` that calls into the engine and checks what it returned, and
a traced-only ``layers`` probe that calls single layers standalone. A
pass's time is the sum of its engine calls; checks are not timed. The
vector-store lifecycle has the same shape but runs only as a layer probe
of ``curate_funnel``'s traced run.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import numpy as np

import gen


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    name = ""
    # Timed passes a run makes even when they overrun --seconds. Pass
    # times keep falling for several passes after the warm one (JIT), so
    # a run whose pass count depended on speed would shift its median.
    min_passes = 1

    def __init__(self, spark, inputs: dict, scratch: str, tracer):
        self.spark = spark
        self.inputs = inputs
        self.scratch = scratch
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def warmed(self) -> None:
        """Called once the untimed warm pass is done."""

    def finish(self) -> None:
        """Checks that need answers computed after the timed passes."""


# ------------------------------------------------------------ wordcount


class WordcountCorpus(Workload):
    name = "wordcount_corpus"
    min_passes = 5

    @staticmethod
    def generate(seed: int, in_dir: str) -> dict:
        return gen.wordcount_corpus(seed, in_dir)

    def run_pass(self) -> float:
        from parallel_map_reduce_spark.operators.wordcount import (
            wordcount,
            write_partitioned_counts,
        )
        from parallel_map_reduce_spark.sources.tables import read_text_lines

        out = os.path.join(self.scratch, "counts")
        with self.tracer.span("wordcount.pass") as s:
            lines = read_text_lines(self.spark, self.inputs["paths"])
            write_partitioned_counts(wordcount(lines, "value"), out)
        self.record(read_counts(out) == self.inputs["expected"])
        shutil.rmtree(out)
        return s["dur"]

    def layers(self) -> dict:
        """Self times from cumulative prefixes of the pipeline, each sent
        to a noop sink: scan, +explode, +aggregate, then the real sink."""
        from parallel_map_reduce_spark.operators.wordcount import (
            explode_words,
            wordcount,
            write_partitioned_counts,
        )
        from parallel_map_reduce_spark.sources.tables import read_text_lines

        out = os.path.join(self.scratch, "counts")
        paths = self.inputs["paths"]
        steps = {
            "scan": lambda: _noop(read_text_lines(self.spark, paths)),
            "explode": lambda: _noop(explode_words(read_text_lines(self.spark, paths), "value")),
            "aggregate": lambda: _noop(wordcount(read_text_lines(self.spark, paths), "value")),
            "sink": lambda: write_partitioned_counts(
                wordcount(read_text_lines(self.spark, paths), "value"), out
            ),
        }
        med, last = {}, {}
        for step, fn in steps.items():
            durs = []
            for _ in range(3):
                with self.tracer.span(f"prefix.{step}") as s:
                    fn()
                durs.append(s["dur"])
                last[step] = s["spark"]
            med[step] = statistics.median(durs)
        files = len(glob.glob(os.path.join(out, "part-*")))
        self.record(read_counts(out) == self.inputs["expected"])
        shutil.rmtree(out)
        return {
            "sources.scan_s": med["scan"],
            "sources.scan_tasks": last["scan"]["tasks"],
            "tokenize.self_s": med["explode"] - med["scan"],
            "wordcount.agg_self_s": med["aggregate"] - med["explode"],
            "wordcount.shuffle_records": last["aggregate"]["shuffle_write_records"],
            "sinks.write_self_s": med["sink"] - med["aggregate"],
            "sinks.files_written": files,
        }


def read_counts(out_dir: str) -> dict:
    """Parse the ``word:count`` part files, splitting on the last ':'.
    A word written twice reads as count -1, so it never matches."""
    counts: dict = {}
    for path in glob.glob(os.path.join(out_dir, "part-*")):
        with open(path, "rb") as fh:
            for line in fh.read().split(b"\n"):
                if line:
                    word, _, n = line.rpartition(b":")
                    w = word.decode()
                    counts[w] = -1 if w in counts else int(n)
    return counts


# --------------------------------------------------------------- funnel

FUNNEL_STAGES = (
    "quality",
    "repetition",
    "perplexity",
    "classifier",
    "decontaminate",
    "dsir",
    "centroids",
    "lsh_dedup",
    "semdedup",
    "sample",
    "pack",
)


class CurateFunnel(Workload):
    name = "curate_funnel"
    min_passes = 3

    @staticmethod
    def generate(seed: int, in_dir: str) -> dict:
        data = gen.funnel_inputs(seed, in_dir)
        data["store"] = VectorStoreLifecycle.generate(seed, os.path.join(in_dir, "store"))
        return data

    def __init__(self, *a):
        super().__init__(*a)
        self.results: list = []

    def _frames(self):
        read = self.spark.read.parquet
        return read(self.inputs["docs"]), read(self.inputs["emb"])

    def run_pass(self) -> float:
        from parallel_map_reduce_spark.operators.curation_pipeline import (
            pipeline_curate_corpus,
        )

        docs, emb = self._frames()
        with self.tracer.span("curation_pipeline.pipeline_curate_corpus") as s:
            rows = pipeline_curate_corpus(self.spark, docs, emb).collect()
        self.results.append(sorted(tuple(r) for r in rows))
        return s["dur"]

    def finish(self) -> None:
        expected = gen.funnel_expected(self.inputs["docs"], self.inputs["emb"])
        for rows in self.results:
            self.record(rows == expected)
        self.results = []

    def layers(self) -> dict:
        """Each funnel stage operator called standalone on the whole input."""
        from pyspark.sql import functions as F

        from parallel_map_reduce_spark.operators import curation_extras as ce
        from parallel_map_reduce_spark.operators import curation_pipeline as cp
        from parallel_map_reduce_spark.operators import dedup, textstats
        from parallel_map_reduce_spark.operators.queries_llm import EMBED_DUP_THRESHOLD
        from parallel_map_reduce_spark.operators.similarity import (
            nearest_centroid_assign,
        )

        docs, emb = self._frames()
        state: dict = {}

        def classifier():
            w = textstats.train_quality_classifier(
                docs, rounds=cp.QC_ROUNDS, lr=cp.QC_LR, return_weights=True
            )
            _noop(textstats.apply_quality_classifier(docs, w))

        def centroids():
            state["assigned"] = nearest_centroid_assign(emb).localCheckpoint(eager=True)

        def lsh_dedup():
            state["edges"] = (
                dedup.minhash_lsh_dedup_pairs(docs).select("id_a", "id_b").localCheckpoint(eager=True)
            )

        def semdedup():
            pairs = ce.cluster_sharded_pairs(
                emb,
                state["assigned"],
                EMBED_DUP_THRESHOLD,
                block_above=cp.SEMDEDUP_BLOCK_ABOVE,
                num_blocks=cp.SEMDEDUP_NUM_BLOCKS,
            ).select("id_a", "id_b")
            _noop(dedup.connected_components(pairs))

        def dsir():
            state["dsir"] = (
                ce.dsir_importance_weights(docs, F.col("lang") == "en")
                .select(
                    "doc_id",
                    F.round((F.col("avg_log_weight") + F.lit(cp.DSIR_SHIFT)) * 10000, 0)
                    .cast("long")
                    .alias("dsir_w"),
                )
                .localCheckpoint(eager=True)
            )

        stages = {
            "quality": lambda: _noop(ce.gopher_quality_stats(docs)),
            "repetition": lambda: _noop(ce.gopher_repetition_stats(docs)),
            "perplexity": lambda: _noop(ce.ccnet_perplexity_buckets(docs)),
            "classifier": classifier,
            "decontaminate": lambda: _noop(
                textstats.decontaminate_against_eval(docs, eval_mod=cp.DECON_EVAL_MOD)
            ),
            "dsir": dsir,
            "centroids": centroids,
            "lsh_dedup": lsh_dedup,
            "semdedup": semdedup,
            "sample": lambda: _noop(
                ce.weighted_systematic_sample(state["dsir"], "dsir_w", cp.SAMPLE_N)
            ),
            "pack": lambda: _noop(
                textstats.chunk_documents(docs, window=cp.PACK_WINDOW, stride=cp.PACK_STRIDE)
            ),
        }
        out = {}
        for stage in FUNNEL_STAGES:
            with self.tracer.span(f"funnel.{stage}") as s:
                stages[stage]()
            out[f"funnel.{stage}.s"] = s["dur"]
            out[f"funnel.{stage}.jobs"] = s["spark"]["jobs"]

        with self.tracer.span("dedup.lsh_candidate_pairs") as s:
            sigs = dedup.minhash_signatures(docs).localCheckpoint(eager=True)
            candidates = dedup.lsh_candidate_pairs(sigs).count()
        verified = state["edges"].count()
        with self.tracer.span("dedup.connected_components") as s:
            _noop(dedup.connected_components(state["edges"]))
        out.update(
            {
                "dedup.candidate_pairs": candidates,
                "dedup.verified_pairs": verified,
                "dedup.verify_yield": verified / candidates if candidates else 0.0,
                "dedup.cc_jobs": s["spark"]["jobs"],
            }
        )
        # The vector-store lifecycle as a layer: a warm pass, then one
        # measured pass and its own probes.
        store = VectorStoreLifecycle(self.spark, self.inputs["store"], self.scratch, self.tracer)
        store.run_pass()
        store.warmed()
        store.run_pass()
        out.update(store.layers())
        self.attempted += store.attempted
        self.failed += store.failed
        return out


def gram_probe(tile: np.ndarray, reps: int = 5) -> dict:
    from parallel_map_reduce_spark.functions.gram import seq_gram

    durs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        seq_gram(tile, tile)
        durs.append(time.perf_counter() - t0)
    t = statistics.median(durs)
    return {"gram.seq_gram_s": t, "gram.pairs_per_s": len(tile) ** 2 / t}


# --------------------------------------------------------- vector store

NPROBE = 4
TOP_K = 10
QUERIES_PER_PASS = 4


def _unit64(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.float64)
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _sq_dists(x: np.ndarray, cmat: np.ndarray) -> np.ndarray:
    # the engine's cell-assignment expression, so argmin ties agree
    return ((x[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)


def expected_admission(xq, ids, xs, sids, cmat, threshold) -> dict:
    """id -> (status, dup_of) for a batch (xq, ids) admitted against the
    stored vectors (xs, sids) of an index with centroids cmat."""
    probes = np.argsort(_sq_dists(xq, cmat), axis=1, kind="stable")[:, :NPROBE]
    cells = _sq_dists(xs, cmat).argmin(axis=1)
    sims = np.round(_unit64(xq) @ _unit64(xs).T, 6)
    out, survivors = {}, []
    for i, vid in enumerate(ids):
        hit = np.isin(cells, probes[i]) & (sims[i] >= threshold)
        if hit.any():
            out[int(vid)] = ("cross_dup", int(sids[hit].min()))
        else:
            survivors.append(i)
    # within-batch components among cross survivors (union-find)
    label = {int(ids[i]): int(ids[i]) for i in survivors}

    def root(v):
        while label[v] != v:
            v = label[v]
        return v

    if survivors:
        s = np.array(survivors)
        inner = np.round(_unit64(xq[s]) @ _unit64(xq[s]).T, 6) >= threshold
        for a, b in zip(*np.nonzero(np.triu(inner, 1))):
            ra, rb = root(int(ids[s[a]])), root(int(ids[s[b]]))
            label[max(ra, rb)] = min(ra, rb)
    for v in label:
        r = root(v)
        out[v] = ("kept", -1) if r == v else ("batch_dup", r)
    return out


def check_query(x, q, rows, stored, cells, cmat) -> tuple[bool, float, float]:
    """(ok, recall@10, rows scanned per result) of one stored top-k answer.

    ok: every answer is a stored vector in one of q's probed cells, with
    its true rounded cosine, and no better candidate there was missed.
    Recall is against the exact float64 top-k over every stored vector,
    ties broken by id.
    """
    probes = np.argsort(_sq_dists(x[q : q + 1], cmat), kind="stable")[0, :NPROBE]
    cand = stored[np.isin(cells[stored], probes) & (stored != q)]
    sims = dict(zip(cand.tolist(), np.round(_unit64(x[[q]]) @ _unit64(x[cand]).T, 6)[0]))
    exact = (_unit64(x[[q]]) @ _unit64(x[stored]).T)[0]
    exact[stored == q] = -np.inf
    top = set(stored[np.lexsort((stored, -exact))[:TOP_K]].tolist())
    got = [r["neighbor_id"] for r in rows]
    recall = len(set(got) & top) / TOP_K
    scanned = len(cand) / TOP_K
    if len(rows) != TOP_K or len(set(got)) != TOP_K or any(g not in sims for g in got):
        return False, recall, scanned
    if any(abs(r["cosine_sim"] - sims[r["neighbor_id"]]) > 2e-6 for r in rows):
        return False, recall, scanned
    tenth = sorted(sims.values(), reverse=True)[TOP_K - 1]
    return min(r["cosine_sim"] for r in rows) >= tenth - 2e-6, recall, scanned


class VectorStoreLifecycle(Workload):
    """Build an IVF index, admit ingest batches (dedup, then append the
    kept rows), compact, and answer closed-loop top-10 queries."""

    @staticmethod
    def generate(seed: int, in_dir: str) -> dict:
        data = gen.store_vectors(seed, in_dir)
        rng = np.random.default_rng([seed, 4])
        data["queries"] = rng.choice(gen.VEC_BUILD, QUERIES_PER_PASS, replace=False)
        return data

    def __init__(self, *a):
        super().__init__(*a)
        self.store = os.path.join(self.scratch, "ivf")
        self.warmed()

    def warmed(self) -> None:
        """Per-operation figures count from the first pass after warm-up."""
        self.ops: dict = {k: [] for k in ("build_s", "admit_s", "compact_s", "query_s",
                                          "recall", "bytes_ratio", "files_per_cell",
                                          "compact_bytes", "cross_pairs", "rows_per_query")}

    def _call(self, name, fn):
        with self.tracer.span(name) as s:
            result = fn()
        return result, s["dur"]

    def run_pass(self) -> float:
        from parallel_map_reduce_spark.operators import similarity as sim

        spark, x = self.spark, self.inputs["x"]
        vectors = spark.read.parquet(self.inputs["path"])
        shutil.rmtree(self.store, ignore_errors=True)
        _, spent = self._call(
            "similarity.ivf_build_index",
            lambda: sim.ivf_build_index(
                vectors.filter(f"vec_id < {gen.VEC_BUILD}"), self.store, num_centroids=gen.VEC_CELLS
            ),
        )
        self.ops["build_s"].append(spent)
        total = spent
        stored = np.arange(gen.VEC_BUILD)
        self.record(self._store_ids() == set(stored.tolist()))
        cmat = self._centroids()
        cells = _sq_dists(x, cmat).argmin(axis=1)
        scored = 0
        for b in range(gen.VEC_BATCHES):
            lo = gen.VEC_BUILD + b * gen.VEC_BATCH
            ids = np.arange(lo, lo + gen.VEC_BATCH)
            batch = vectors.filter(f"vec_id >= {lo} AND vec_id < {lo + gen.VEC_BATCH}")

            def admit():
                st = sim.incremental_semantic_dedup(
                    spark, batch, self.store, threshold=gen.VEC_THRESHOLD, nprobe=NPROBE
                ).collect()
                kept = [r["vec_id"] for r in st if r["status"] == "kept"]
                sim.ivf_append_to_index(batch.filter(batch.vec_id.isin(kept)), self.store)
                return st

            st, spent = self._call("similarity.admit", admit)
            self.ops["admit_s"].append(spent)
            total += spent
            want = expected_admission(x[ids], ids, x[stored], stored, cmat, gen.VEC_THRESHOLD)
            got = {r["vec_id"]: (r["status"], r["dup_of"]) for r in st}
            self.record(got == want)
            probes = np.argsort(_sq_dists(x[ids], cmat), axis=1, kind="stable")[:, :NPROBE]
            scored += int((probes[:, :, None] == cells[stored][None, None, :]).any(axis=1).sum())
            stored = np.concatenate([stored, [v for v, s in want.items() if s[0] == "kept"]])
            self.record(self._store_ids() == set(stored.tolist()))
        self.ops["cross_pairs"].append(scored)

        (before, after), spent = self._call(
            "similarity.compact_ivf_index", lambda: sim.compact_ivf_index(spark, self.store)
        )
        self.ops["compact_s"].append(spent)
        total += spent
        n_cells = len(glob.glob(os.path.join(self.store, "invfile", "cid=*")))
        self.record(after == n_cells and self._store_ids() == set(stored.tolist()))
        self.ops["files_per_cell"].append(before / n_cells)
        self.ops["compact_bytes"].append(_dir_bytes(os.path.join(self.store, "invfile")))
        self.ops["bytes_ratio"].append(_dir_bytes(self.store) / x[stored].nbytes)

        for q in self.inputs["queries"]:
            t0 = time.perf_counter()
            try:
                rows, spent = self._call(
                    "similarity.ivf_query_stored",
                    lambda: sim.ivf_query_stored(
                        spark, self.store, [int(q)], k=TOP_K, nprobe=NPROBE
                    ).collect(),
                )
            except Exception:  # a failed query is a failed operation
                self.record(False)
                self.ops["query_s"].append(time.perf_counter() - t0)
                continue
            total += spent
            self.ops["query_s"].append(spent)
            ok, recall, scanned = check_query(x, int(q), rows, stored, cells, cmat)
            self.record(ok)
            self.ops["recall"].append(recall)
            self.ops["rows_per_query"].append(scanned)
        if self.tracer.enabled:
            self.ops["recover_s"] = recover_probe(self.store)
        shutil.rmtree(self.store)
        return total

    def _centroids(self) -> np.ndarray:
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.store, "centroids")).to_pydict()
        order = np.argsort(t["cid"])
        return np.array(t["center"], dtype=np.float64)[order]

    def _store_ids(self) -> set:
        import pyarrow.parquet as pq

        ids: set = set()
        for f in glob.glob(os.path.join(self.store, "invfile", "cid=*", "*.parquet")):
            ids.update(pq.read_table(f, columns=["vec_id"]).column(0).to_pylist())
        return ids

    def layers(self) -> dict:
        from parallel_map_reduce_spark.operators.similarity import (
            embedding_all_pairs_blocked,
        )

        lo = gen.VEC_BUILD
        batch = self.spark.read.parquet(self.inputs["path"]).filter(
            f"vec_id >= {lo} AND vec_id < {lo + gen.VEC_BATCH}"
        )
        with self.tracer.span("similarity.embedding_all_pairs_blocked") as s:
            embedding_all_pairs_blocked(batch, threshold=gen.VEC_THRESHOLD, num_blocks=4).count()
        ops = self.ops
        q = sorted(ops["query_s"])
        admit = statistics.median(ops["admit_s"])
        out = {
            "similarity.build_s": statistics.median(ops["build_s"]),
            "similarity.admit_p50_s": admit,
            "similarity.compact_s": statistics.median(ops["compact_s"]),
            "similarity.query_p50_s": statistics.median(q),
            "similarity.query_p90_s": q[min(len(q) - 1, int(0.9 * len(q)))],
            "similarity.query_recall_at_10": statistics.mean(ops["recall"]),
            "similarity.store_bytes_per_vector_byte": statistics.median(ops["bytes_ratio"]),
            "similarity.in_batch_pairs_s": s["dur"],
            "similarity.cross_search_s": admit - s["dur"],
            "similarity.cross_pairs_scored": statistics.median(ops["cross_pairs"]),
            "similarity.rows_scanned_per_query": statistics.mean(ops["rows_per_query"]),
            "similarity.files_per_cell_before_compact": statistics.median(ops["files_per_cell"]),
            "similarity.compact_bytes_rewritten": statistics.median(ops["compact_bytes"]),
            "store.recover_s": ops.get("recover_s", 0.0),
        }
        out.update(gram_probe(_unit64(self.inputs["x"][lo : lo + gen.VEC_BATCH])))
        return out


def recover_probe(path: str, reps: int = 20) -> float:
    """Median time of one recover_store_slices call on a clean store."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        recover_store_slices,
    )

    durs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        recover_store_slices(path)
        durs.append(time.perf_counter() - t0)
    return statistics.median(durs)


WORKLOADS = {w.name: w for w in (WordcountCorpus, CurateFunnel)}
