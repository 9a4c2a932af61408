"""The benchmark workloads.

Each workload owns its inputs (made from the seed in ``setup``), runs one
closed-loop iteration through the engine's public calls (``run``) and
checks that iteration's outputs (``check``): against independent numpy
recomputations where one exists, and against the outputs pinned for the
seed in ``expected.json`` (or, for a seed not pinned there, against the
run's first iteration). Every public call is wrapped in two spans: *build*
(the call returns a DataFrame; eager jobs inside the operator run here) and
*execute* (the action that materialises it).
"""

from __future__ import annotations

import json
import os
import shutil
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from rasters_rs_spark.functions import codecs, geom
from rasters_rs_spark.operators import celljoin, dedup, similarity, tiling
from rasters_rs_spark.sources import synth
from rasters_rs_spark.streaming import pipeline

CELLJOIN = "celljoin.cell_pip_join"
TILING = "tiling.tile_index_manifest"
SEMDEDUP = "dedup.semantic_dedup"
TOPK = "similarity.cosine_topk"
RANKEVAL = "similarity.retrieval_rank_eval"
CURATION = "pipeline.run_corpus_curation"

_MOD = 2147483647  # digests sum hashes modulo this, so ANSI sums never overflow


def _digest(*cols):
    return F.sum(F.pmod(F.xxhash64(*cols), F.lit(_MOD)))


def _pip_pairs(px, py, aois: pd.DataFrame, aoi_index) -> list:
    """(point index, aoi index) for every point inside every AOI, by the
    numpy even-odd kernel the join's refine step is checked against."""
    pairs = []
    for r, a in zip(aois.itertuples(index=False), aoi_index):
        inside = geom.points_in_rings(px, py, list(r.ring_offsets),
                                      np.asarray(r.xs), np.asarray(r.ys))
        pairs.extend((int(i), a) for i in np.flatnonzero(inside))
    return pairs


def _crc(values) -> int:
    return zlib.crc32(json.dumps(values).encode())


def _exact(row) -> tuple:
    """A row compared bit for bit; NaN equals NaN."""
    return tuple(v.hex() if isinstance(v, float) else v for v in row)


class Workload:
    name = ""
    items = ""
    n_items = 0
    # untimed iterations before the timed ones: after one, the first
    # timed iteration still ran ~14% slower than later ones
    WARMUP = 2

    def __init__(self, expected=None):
        # outputs pinned for this seed, or None: then the first
        # iteration's outputs are what later ones must repeat
        self.expected = expected

    def setup(self, spark, seed: int, cores: int, workdir: str) -> None:
        raise NotImplementedError

    def release(self) -> None:
        """Drop the materialised inputs (set-up is repeated and timed)."""

    def prepare_checks(self, spark) -> None:
        """Untimed, once: driver-side expectations for ``check``."""

    def run(self, spark, span) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list:
        raise NotImplementedError

    def pinned(self, out: dict) -> dict:
        """The outputs of one iteration that ``expected.json`` pins: plain
        JSON values, a pure function of the seed."""
        raise NotImplementedError

    def layer_counters(self, outs: list, trace: dict) -> dict:
        """Per-layer counters and ratios from the outputs and the per-call
        trace metrics."""
        return {}

    def check_pinned(self, out: dict) -> list:
        got = json.loads(json.dumps(self.pinned(out)))
        if self.expected is None:
            self.expected = got
            return []
        return [f"{k}: {got.get(k)!r} != pinned {v!r}"
                for k, v in self.expected.items() if got.get(k) != v]


class TilePipeline(Workload):
    """bench.py's headline pipeline: centroid cell join, then tiling."""

    name = "tile_pipeline"
    items = "images"
    n_items = N_IMAGES = 128
    IMG_PX = 128
    N_AOIS = 32
    SAMPLED_IMAGES = 2

    def setup(self, spark, seed, cores, workdir):
        self.seed = seed
        self.aois = synth.aoi_table(self.N_AOIS, seed=seed + 1)
        # one partition per core: 32 images a task. bench.py's four per
        # core give 256 a task at its 4096 images, but 8 at these 128,
        # where per-task Python round trips took most of the iteration
        # (4.0 s against 2.0 s)
        self.images = synth.image_table_distributed(
            spark, self.N_IMAGES, seed=seed, h=self.IMG_PX, w=self.IMG_PX,
            fmt_cycle=("raw", "q16"), pixel_size=2.0,
            partitions=cores).persist()
        self.images.count()

    def release(self):
        self.images.unpersist(blocking=True)

    def _centroids(self):
        return self.images.select(
            "image_id",
            (F.col("gt")[0] + F.col("gt")[1] * F.col("w") / 2).alias("x"),
            (F.col("gt")[3] + F.col("gt")[5] * F.col("h") / 2).alias("y"))

    def prepare_checks(self, spark):
        cents = self._centroids().toPandas()
        idx = cents["image_id"].str.slice(4).astype(np.int64).to_numpy()
        pairs = _pip_pairs(cents["x"].to_numpy(), cents["y"].to_numpy(),
                           self.aois, range(self.N_AOIS))
        self.exp_join = (len(pairs),
                         sum(int(idx[i]) * 64 + a for i, a in pairs))
        # the tiling kernel, run on the driver for a few sampled images
        rng = np.random.default_rng(self.seed)
        self.sampled = [f"img_{i:08d}" for i in sorted(rng.choice(
            self.N_IMAGES, self.SAMPLED_IMAGES, replace=False))]
        rows = self.images.where(F.col("image_id").isin(self.sampled)) \
            .collect()
        exp = []
        for row in rows:
            block = codecs.decode_block(row.bytes, row.h, row.w, row.fmt)
            # a NaN no-data value arrives as null, which the kernel's
            # pandas batches see as NaN again
            no_val = np.nan if row.no_val is None else row.no_val
            cfg, zoom, mz, base = tiling.base_tiles_for_image(
                block, row.gt, row.crs, no_val, 256)
            for z, x, y, arr, vmin, vmax in tiling.pyramid_local(
                    base, zoom, mz, 256):
                data, err = tiling.encode_tile_array(arr, vmin, vmax)
                exp.append((row.image_id, z, x, y, float(vmin), float(vmax),
                            float(err), len(zlib.compress(data, 1))))
        self.exp_tiles = sorted(map(_exact, exp))

    def run(self, spark, span):
        with span(CELLJOIN, "build"):
            joined = celljoin.cell_pip_join(self._centroids(), self.aois,
                                            zoom=12)
        with span(CELLJOIN, "exec"):
            j = joined.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.substring("image_id", 5, 8).cast("long") * 64
                      + F.substring("aoi_id", 5, 5).cast("long"))
                .alias("sig")).first()
        with span(TILING, "build"):
            enc = tiling.tile_index_manifest(self.images, mode="local",
                                             compress=True)
        with span(TILING, "exec"):
            cols = ("image_id", "z", "x", "y", "min", "max", "err")
            t = enc.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("image_id").alias("images"),
                _digest(*cols).alias("sig"),
                F.sum(F.length("bytes")).alias("nbytes"),
                F.collect_list(F.when(
                    F.col("image_id").isin(self.sampled),
                    F.struct(*cols, F.length("bytes")))).alias("sampled")) \
                .first()
        return {"join": (j.n, j.sig or 0),
                "tiles": (t.n, t.images, t.sig, t.nbytes),
                "sampled": sorted(_exact(r) for r in t.sampled),
                "rows_out": {CELLJOIN: j.n, TILING: t.n}}

    def check(self, out):
        errs = []
        if out["join"] != self.exp_join:
            errs.append(f"join (rows, signature) {out['join']} != numpy "
                        f"point-in-ring {self.exp_join}")
        n, images, _, _ = out["tiles"]
        if images != self.N_IMAGES:
            errs.append(f"tiles for {images} of {self.N_IMAGES} images")
        if out["sampled"] != self.exp_tiles:
            errs.append(f"tiles of {self.sampled}: {len(out['sampled'])} "
                        f"rows differ from the driver kernel's "
                        f"{len(self.exp_tiles)}")
        return errs + self.check_pinned(out)

    def pinned(self, out):
        return {"join": out["join"], "tiles": out["tiles"],
                "sampled": _crc(out["sampled"])}

    def layer_counters(self, outs, trace):
        n, _, _, payload = outs[-1]["tiles"]
        # join rows out over the candidate rows the join node produced
        keep = trace[f"{CELLJOIN}.rows_out"] / max(
            trace[f"{CELLJOIN}.join_rows"], 1)
        return {"celljoin.refine_keep_ratio": keep,
                "tiling.tiles_per_image": n / self.N_IMAGES,
                "tiling.payload_bytes_per_tile": payload / max(n, 1)}


class VectorDedup(Workload):
    """Semantic dedup, exact top-k and retrieval ranks over embeddings."""

    name = "vector_dedup"
    items = "vectors"
    n_items = N_VECTORS = 1024
    DIM = 64
    N_QUERIES = 64
    N_CLUSTERS = 24
    DUP_SHARE = 0.1
    K = 10
    THRESHOLD = 0.97
    SAMPLED_QUERIES = 8

    def setup(self, spark, seed, cores, workdir):
        rng = np.random.default_rng(seed)
        n, d = self.N_VECTORS, self.DIM
        centers = rng.normal(size=(self.N_CLUSTERS, d))
        # balanced clusters, so the per-cluster pair work is the same for
        # every seed; planted near-duplicates copy an earlier vector
        x = centers[np.arange(n) % self.N_CLUSTERS] \
            + rng.normal(scale=0.5, size=(n, d))
        dups = np.flatnonzero(rng.random(n) < self.DUP_SHARE)
        dups = dups[dups > 0]
        src = (rng.random(dups.size) * dups).astype(np.int64)
        x[dups] = x[src] + rng.normal(scale=0.01, size=(dups.size, d))
        self.x = x
        self.cents = centers.tolist()
        qids = np.sort(rng.choice(n, self.N_QUERIES, replace=False))
        q = x[qids] + rng.normal(scale=0.35, size=(qids.size, d))
        self.qids, self.q = qids, q
        self.corpus = spark.createDataFrame(
            pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                          "embedding": list(x)}),
            "vec_id long, embedding array<double>") \
            .repartition(cores * 2).persist()
        self.queries = spark.createDataFrame(
            pd.DataFrame({"q_id": qids.astype(np.int64),
                          "q_vec": list(q)}),
            "q_id long, q_vec array<double>").persist()
        self.corpus.count()
        self.queries.count()
        self.sample_q = rng.choice(qids.size, self.SAMPLED_QUERIES,
                                   replace=False)

    def release(self):
        self.corpus.unpersist(blocking=True)
        self.queries.unpersist(blocking=True)

    def run(self, spark, span):
        with span(SEMDEDUP, "build"):
            sd = dedup.semantic_dedup(self.corpus, self.cents,
                                      threshold=self.THRESHOLD)
        with span(SEMDEDUP, "exec"):
            sd_pdf = sd.toPandas()
        with span(TOPK, "build"):
            top = similarity.cosine_topk(self.queries, self.corpus, self.K)
        with span(TOPK, "exec"):
            top_rows = top.collect()
        with span(RANKEVAL, "build"):
            ranks = similarity.retrieval_rank_eval(self.queries, self.corpus)
        with span(RANKEVAL, "exec"):
            rank_rows = ranks.collect()
        return {"semdedup": sd_pdf, "topk": top_rows, "ranks": rank_rows,
                "rows_out": {SEMDEDUP: len(sd_pdf), TOPK: len(top_rows),
                             RANKEVAL: len(rank_rows)}}

    def _cos(self, qv):
        x = self.x
        return (x @ qv) / (np.linalg.norm(x, axis=1) * np.linalg.norm(qv))

    def check(self, out):
        errs = []
        top = {}
        for r in out["topk"]:
            top.setdefault(r.q_id, []).append((r.rank, r.vec_id, r.cosine))
        for i in self.sample_q:
            qid = int(self.qids[i])
            got = [v for _, v, _ in sorted(top.get(qid, []))]
            cos = self._cos(self.q[i])
            want = np.lexsort((np.arange(cos.size), -cos))[:self.K]
            if got != want.tolist() and not np.allclose(
                    np.sort(cos[got])[::-1] if got else [],
                    cos[want], rtol=0, atol=1e-12):
                errs.append(f"top-{self.K} of query {qid}: {got} != numpy "
                            f"{want.tolist()}")
        ranks = {r.q_id: r.true_rank for r in out["ranks"]}
        if len(ranks) != self.N_QUERIES:
            errs.append(f"ranks for {len(ranks)} of {self.N_QUERIES} queries")
        for qid, rank in ranks.items():
            first = [v for rk, v, _ in top.get(qid, []) if rk == 1]
            if (rank == 1) != (first == [qid]):
                errs.append(f"query {qid}: rank {rank} but top-1 {first}")
        for i in self.sample_q:
            qid = int(self.qids[i])
            cos = self._cos(self.q[i])
            # the engine folds dot products strictly left to right, numpy
            # does not: cosines within 1e-12 of the true pair's may order
            # either way
            lo = 1 + int(np.sum(cos > cos[qid] + 1e-12))
            hi = int(np.sum(cos >= cos[qid] - 1e-12))
            if not lo <= (ranks.get(qid) or 0) <= hi:
                errs.append(f"query {qid}: rank {ranks.get(qid)} outside "
                            f"numpy [{lo}, {hi}]")
        errs += self._check_semdedup(out["semdedup"])
        return errs + self.check_pinned(out)

    def pinned(self, out):
        sd = out["semdedup"]
        kept = sorted(int(v) for v in sd.loc[sd["kept"], "vec_id"])
        return {"kept": [len(kept), _crc(kept)],
                "topk": _crc(sorted((int(r.q_id), int(r.rank), int(r.vec_id))
                                    for r in out["topk"])),
                "ranks": _crc(sorted((int(r.q_id), int(r.true_rank))
                                     for r in out["ranks"]))}

    def _check_semdedup(self, pdf):
        """Greedy keep rule recomputed in numpy on two clusters."""
        errs = []
        if len(pdf) != self.N_VECTORS:
            return [f"semantic_dedup returned {len(pdf)} rows"]
        for c in (0, self.N_CLUSTERS // 2):
            m = pdf[pdf["cluster"] == c].sort_values("vec_id")
            ids = m["vec_id"].to_numpy()
            v = self.x[ids]
            u = v / np.linalg.norm(v, axis=1)[:, None]
            cs = m["centroid_sim"].to_numpy()
            a, b = np.nonzero(np.triu(u @ u.T, 1) >= self.THRESHOLD)
            drop = np.where(cs[a] > cs[b], ids[a],
                            np.where(cs[b] > cs[a], ids[b],
                                     np.maximum(ids[a], ids[b])))
            want = set(ids) - set(drop.tolist())
            got = set(m.loc[m["kept"], "vec_id"].tolist())
            if got != want:
                errs.append(f"cluster {c}: kept {len(got)} != numpy "
                            f"{len(want)}")
        return errs

    def layer_counters(self, outs, trace):
        sizes = outs[-1]["semdedup"].groupby("cluster").size().to_numpy()
        candidates = float(np.sum(sizes * (sizes - 1)) / 2)
        return {"similarity.pairs_scored": float(self.N_QUERIES
                                                 * self.N_VECTORS),
                "dedup.candidate_pairs": candidates,
                "dedup.pairs_kept_ratio":
                    trace[f"{SEMDEDUP}.cogroup_rows"] / candidates}


_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()


class CorpusCuration(Workload):
    """run_corpus_curation over seeded synthetic documents; every stage
    checkpoints to a fresh root."""

    name = "corpus_curation"
    items = "docs"
    n_items = N_DOCS = 800
    # the defaults (decon_k=4, test_split=490) flag every document as
    # contaminated at this corpus size and stage 2 keeps 0 rows: 13-word
    # shingles, the last 2% of ids held out and 8-word spans make every
    # stage do work
    PARAMS = {"decon_k": 13, "test_split": N_DOCS - N_DOCS // 50,
              "span_k": 8}
    # one: a second ~11 s warm-up iteration would add about a quarter
    # to every run
    WARMUP = 1

    def __init__(self, expected=None):
        super().__init__(expected)
        self.iteration = 0

    def setup(self, spark, seed, cores, workdir):
        rng = np.random.default_rng(seed)
        n = self.N_DOCS
        words = np.array(_WORDS)
        footer = " ".join(rng.choice(words, 12))
        texts = []
        for i in range(n):
            t = " ".join(words[rng.integers(0, words.size,
                                            int(rng.integers(10, 101)))])
            r = rng.random()
            if r < 0.05 and i > 0:  # planted near-duplicate
                t = texts[int(rng.integers(0, i))] + " dup"
            elif r < 0.15:  # shared boilerplate span
                t = t + " " + footer
            texts.append(t)
        langs = rng.choice(["en", "zh", "es", "fr", "de"], n,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15])
        docs = pd.DataFrame({
            "doc_id": np.arange(n, dtype=np.int64), "text": texts,
            "lang": langs, "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
        self.sf_dir = os.path.join(workdir, f"corpus-{seed}")
        os.makedirs(self.sf_dir, exist_ok=True)
        path = os.path.join(self.sf_dir, "documents.parquet")
        docs.to_parquet(path, index=False)
        self.input_bytes = os.path.getsize(path)
        self.roots = os.path.join(workdir, "curation")
        spark.read.parquet(path).count()

    def run(self, spark, span):
        self.iteration += 1
        root = os.path.join(self.roots, str(self.iteration))
        with span(CURATION, "build"):
            res = pipeline.run_corpus_curation(spark, root, self.sf_dir,
                                               **self.PARAMS)
        with span(CURATION, "exec"):
            counts = {k: v for k, v in res.items() if k != "stages"}
        shutil.rmtree(root, ignore_errors=True)
        return {"counts": counts, "stages": res["stages"],
                "rows_out": {CURATION: counts["packed_docs"]}}

    def check(self, out):
        errs = [f"{s['stage']}: {s['rows']} rows" for s in out["stages"]
                if s["rows"] <= 0 or s["skipped"]]
        errs += [f"{k} is {v}" for k, v in out["counts"].items() if v <= 0]
        return errs + self.check_pinned(out)

    def pinned(self, out):
        return {"counts": out["counts"],
                "stages": [[s["stage"], s["rows"]] for s in out["stages"]]}

    def layer_counters(self, outs, trace):
        m = {}
        for s in outs[-1]["stages"]:
            m[f"manifest.{s['stage']}.wall_s"] = float(np.median(
                [next(t["wall_s"] for t in o["stages"]
                      if t["stage"] == s["stage"]) for o in outs]))
            m[f"manifest.{s['stage']}.rows"] = s["rows"]
        m["manifest.write_bytes_per_input_byte"] = sum(
            s["bytes"] for s in outs[-1]["stages"]) / self.input_bytes
        return m


WORKLOADS = {w.name: w for w in (TilePipeline, VectorDedup, CorpusCuration)}
