"""The workloads. Each is one closed-loop, single-client sequence of calls
into the engine's public functions, made from outside the engine.

A workload has five parts, driven by ``run.py``:

- ``generate``: write the seeded inputs (never timed);
- ``prepare``: engine-side set-up that serving needs (part of ``setup_s``);
- ``check``: correctness checks before the timed cycles (oracle parity) —
  they also warm the caches, so timed cycles run warm;
- ``cycle``: one timed cycle of ops, each recorded through ``ctx.op``;
- ``verify``: checks after the timed cycles (generator truth, guards).

``op_walls`` gives the samples of ``op_p50_s`` and ``throughput`` the value
of ``throughput_per_s``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

import gen
from spans import TRACER, catalyst_phases


def _files(path: str) -> set[tuple[str, int]]:
    """Data files (relative path, size) under ``path``."""
    out = set()
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                out.add((os.path.relpath(p, path), os.path.getsize(p)))
    return out


def run_key(ctx, key: str, sf_dir: str) -> None:
    """One registry key: build its frame (the ``plans`` layer), then run it
    into the noop sink. In the traced run the frame is also planned once on
    its own, to read Catalyst's phase times."""
    spec = ctx.specs[key]
    with TRACER.span(key, "plans") as s:
        df = spec.fn(ctx.spark, sf_dir)
    if s is not None:
        with TRACER.span("catalyst", "catalyst") as c:
            c.attrs["phases"] = catalyst_phases(df)
    with TRACER.span("noop", "action"):
        df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------


class CorpusDedup:
    """Full LLM-corpus passes: quality gate and exact dedup (``corpus``),
    then the MinHash-LSH, SimHash, n-gram Jaccard, tf-idf and BPE keys
    (``plans.dedup`` / ``plans.textops``) on the gated corpus."""

    name = "corpus_dedup"
    N_DOCS = 1600
    #: Words in the corpus vocabulary: enough distinct bigrams that the
    #: Jaccard dispatcher leaves its dense bitmap regime at this size.
    N_WORDS = 20_000
    STAGES = (
        ("exact", "exact_dedup"),
        ("minhash", "minhash_lsh_dedup"),
        ("simhash", "simhash_near_dup"),
        ("jaccard", "ngram_jaccard_dedup"),
        ("tfidf", "tfidf_top_terms"),
        ("bpe", "bpe_encode_token_count"),
    )
    #: The quality gate + exact dedup the corpus module applies, in DuckDB.
    GATE_SQL = r"""
        WITH d AS (
            SELECT doc_id, text, n_chars,
                   trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
            FROM {src} WHERE length(text) > 0
        ), g AS (
            SELECT * FROM d
            WHERE n_chars BETWEEN 120 AND 400
              AND len(string_split(norm, ' ')) >= 20
              AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text) > 0.7
        )
        SELECT doc_id FROM g
        QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(norm))
    """
    #: A pass takes about as long as a run's --seconds or longer; at least
    #: two passes, because the first still runs slower than the rest.
    min_cycles = 2

    def generate(self, ctx) -> None:
        gen.corpus(ctx.input_dir, ctx.seed, self.N_DOCS, n_words=self.N_WORDS)
        self.stage_dir = os.path.join(ctx.work_dir, "gated")
        self.dispatch: list[dict] = []
        self.pairs = 0

    def oracles(self, ctx) -> dict:
        """The gate's kept ids, and each key's DuckDB oracle digest over the
        corpus the SQL gate keeps: equal to Spark's gated corpus whenever
        the gate check passes. Runs in the background while Spark computes
        its side of the checks."""
        src = f"read_parquet('{ctx.input_dir}/documents.parquet')"
        gate = self.GATE_SQL.format(src=src)

        def keys():
            con = ctx.duck({"documents": f"(SELECT * FROM {src} WHERE doc_id IN ({gate}))"})
            return {k: ctx.digest(con.execute(ctx.specs[k].oracle).fetchdf()) for _, k in self.STAGES}

        return {"gate": lambda: sorted(r[0] for r in ctx.duck({}).execute(gate).fetchall()), "keys": keys}

    def prepare(self, ctx) -> None:
        pass

    def gate(self, ctx) -> None:
        from vacancy_analyser_spark import corpus, io

        docs = io.load_table(ctx.spark, ctx.input_dir, "documents")
        kept = corpus.dedup_exact(corpus.quality_gate(docs)).drop("n_tokens")
        io.write_parquet(kept, os.path.join(self.stage_dir, "documents.parquet"))

    def jaccard(self, ctx, key: str) -> None:
        from vacancy_analyser_spark.plans import dedup

        dedup.LAST_SPARSE_DISPATCH.clear()
        run_key(ctx, key, self.stage_dir)
        self.dispatch.append(dict(dedup.LAST_SPARSE_DISPATCH))

    def check(self, ctx) -> None:
        self.gate(ctx)
        want = ctx.oracle("gate")
        got = sorted(r[0] for r in ctx.spark.read.parquet(
            os.path.join(self.stage_dir, "documents.parquet")).select("doc_id").collect())
        ctx.expect(got == want, f"quality gate + exact dedup kept {len(got)} docs, oracle {len(want)}")
        got = {k: ctx.digest(ctx.specs[k].fn(ctx.spark, self.stage_dir).toPandas()) for _, k in self.STAGES}
        ctx.mark("spark side of the oracle checks done")
        want = ctx.oracle("keys")
        for key, digest in got.items():
            ctx.expect(digest == want[key], f"{key}: Spark result differs from the DuckDB oracle")
        self.pairs = got["ngram_jaccard_dedup"][0]

    def cycle(self, ctx) -> None:
        ctx.op("gate", "stage", lambda: self.gate(ctx))
        for stage, key in self.STAGES:
            if stage == "jaccard":
                ctx.op(stage, "stage", lambda k=key: self.jaccard(ctx, k))
            else:
                ctx.op(stage, "stage", lambda k=key: run_key(ctx, k, self.stage_dir))

    def verify(self, ctx) -> None:
        plans = {d.get("plan") for d in self.dispatch}
        ctx.expect(plans == {"_jaccard_countjoin"},
                   f"ngram_jaccard_dedup ran {sorted(map(str, plans))}, not the count-join plan")

    def cand_rows(self) -> float:
        return self.dispatch[-1].get("cand_rows", 0.0) if self.dispatch else 0.0

    def op_walls(self, ctx) -> list[float]:
        """Whole passes: every stage adds to a pass's wall."""
        return ctx.cycle_walls

    def named(self, ctx) -> dict:
        return {"corpus_docs_per_s": (self.throughput(ctx), "1/s")}

    def throughput(self, ctx) -> float:
        return self.N_DOCS * len(ctx.cycle_walls) / sum(ctx.cycle_walls)

    def layers(self, ctx, spans) -> dict:
        out = {f"corpus.{stage}_s": 0.0 for stage, _ in (("gate", None), *self.STAGES)}
        for s in spans:
            if s.layer == "op" and f"corpus.{s.name}_s" in out:
                out[f"corpus.{s.name}_s"] += s.dur
        cand = self.cand_rows()
        out["plans.dedup.candidate_rows"] = cand
        out["plans.dedup.pair_yield"] = self.pairs / cand if cand else 0.0
        return out


# ---------------------------------------------------------------------------


class LakeLifecycle:
    """The weekly lake cycle, writes beside reads: publish a merged SCD2
    snapshot, add a batch to the IVF index, delete a takedown list, probe
    after each index write, then compact the index."""

    name = "lake_lifecycle"
    N_ROWS = 20_000
    N_WEEKS = 16
    N_VECTORS = 1_000
    ADD = 150
    DELETE = 50
    NPROBE = 2
    BASE_DATE = dt.date(2021, 1, 4)
    min_cycles = 2

    def generate(self, ctx) -> None:
        self.truth = gen.lake(ctx.input_dir, ctx.seed, self.N_ROWS, self.N_WEEKS,
                              self.N_VECTORS, self.ADD, self.DELETE)
        self.lake_dir = os.path.join(ctx.work_dir, "lake")
        self.ix = os.path.join(self.lake_dir, "index")
        self.week = 0
        self.memo: dict = {}
        self.compactions: list[tuple[bool, dict]] = []
        self.index_files: list[tuple[bool, int]] = []

    def _date(self, w: int) -> dt.date:
        return self.BASE_DATE + dt.timedelta(days=7 * w)

    def _state(self, w: int) -> str:
        return os.path.join(self.lake_dir, "state", f"w{w}")

    def _read(self, ctx, name: str):
        return ctx.spark.read.parquet(os.path.join(ctx.input_dir, f"{name}.parquet"))

    def _vectors(self, ctx, name: str):
        from pyspark.sql import functions as F

        return self._read(ctx, name).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))

    def prepare(self, ctx) -> None:
        from vacancy_analyser_spark import io
        from vacancy_analyser_spark.operators.merge import bootstrap_state
        from vacancy_analyser_spark.plans import similarity as sim

        io.write_parquet(bootstrap_state(self._read(ctx, "snapshot_w0"), self._date(0)), self._state(0))
        sim.ivf_build_index_frame(self._vectors(ctx, "vectors_base"), self.ix, schema_memo=self.memo)
        cents = ctx.spark.read.parquet(os.path.join(self.ix, "centroids")).toPandas()
        self.cent_ids = cents["centroid_id"].to_numpy()
        c = np.stack(cents["c_emb"].to_numpy())
        self.cents = c / np.linalg.norm(c, axis=1, keepdims=True)

    def oracles(self, ctx) -> dict:
        return {}

    def check(self, ctx) -> None:
        """One untimed week, so the timed weeks run warm code paths."""
        self.cycle(ctx)

    def _wrote(self, ctx, what: str, path: str, fn) -> None:
        before = _files(path)
        fn()
        after = _files(path)
        ctx.expect(bool(after - before), f"week {self.week}: {what} wrote no files under {path}")

    def publish(self, ctx, w: int) -> None:
        from vacancy_analyser_spark import io
        from vacancy_analyser_spark.operators.merge import merge_snapshot

        state = ctx.spark.read.parquet(self._state(w - 1))
        merged = merge_snapshot(state, self._read(ctx, f"snapshot_w{w}"), self._date(w))
        io.write_parquet(merged, self._state(w))

    def probe(self, ctx, q: np.ndarray, probe_ids: list[int] | None = None) -> list:
        from vacancy_analyser_spark.plans import similarity as sim

        if probe_ids is None:
            near = np.argsort(-(self.cents @ q), kind="stable")[: self.NPROBE]
            probe_ids = [int(self.cent_ids[i]) for i in near]
        with TRACER.span("ivf_probe_index", "plans.similarity"):
            return sim.ivf_probe_index(ctx.spark, os.path.join(self.ix, "vectors"),
                                       [float(x) for x in q], probe_ids).collect()

    def _probes(self, ctx) -> None:
        for i, q in enumerate(self.truth["queries"]):
            ctx.op(f"probe{i}", "probe", lambda q=q: self.probe(ctx, q))

    def cycle(self, ctx) -> None:
        from vacancy_analyser_spark.operators.compaction import compact_partitions
        from vacancy_analyser_spark.plans import similarity as sim

        if self.week >= self.N_WEEKS:
            raise RuntimeError(f"lake inputs cover {self.N_WEEKS} weeks; raise N_WEEKS")
        w = self.week = self.week + 1
        vec_dir = os.path.join(self.ix, "vectors")

        ctx.op("publish", "snapshot_publish",
               lambda: self._wrote(ctx, "merge+publish", self._state(w), lambda: self.publish(ctx, w)))
        batch = self._vectors(ctx, f"vectors_add_w{w}")

        def add():
            with TRACER.span("ivf_index_incremental_add", "plans.similarity"):
                sim.ivf_index_incremental_add(ctx.spark, self.ix, batch, schema_memo=self.memo)

        ctx.op("add", "index_add", lambda: self._wrote(ctx, "index add", vec_dir, add))
        self._probes(ctx)
        dels = self._read(ctx, f"vectors_del_w{w}")

        def delete():
            with TRACER.span("ivf_index_delete", "plans.similarity"):
                sim.ivf_index_delete(ctx.spark, self.ix, dels, schema_memo=self.memo)

        ctx.op("delete", "index_delete", lambda: self._wrote(ctx, "index delete", vec_dir, delete))
        self._probes(ctx)
        ctx.op("compact", "compact", lambda: self.compactions.extend(
            (ctx.traced, r) for r in compact_partitions(ctx.spark, vec_dir)))
        self.index_files.append((ctx.traced, len(_files(vec_dir))))

    def verify(self, ctx) -> None:
        from pyspark.sql import functions as F
        from vacancy_analyser_spark.plans.similarity import IVF_K

        w = self.week
        state = ctx.spark.read.parquet(self._state(w)).select(
            "id", "added_at", "updated_at", "removed_at").toPandas()
        truth = self.truth["truth"][w]
        ctx.expect(len(state) == len(truth), f"state holds {len(state)} ids, truth {len(truth)}")
        if len(state) == len(truth):
            state = state.sort_values("id")
            ctx.expect((state["id"].to_numpy() == np.arange(len(truth))).all(), "state id set differs from truth")
            for col, j in (("added_at", 0), ("updated_at", 1), ("removed_at", 2)):
                want = [self._date(int(x)) if x >= 0 else None for x in truth[:, j]]
                got = [None if v is None or v != v else v for v in state[col]]
                bad = sum(1 for a, b in zip(got, want) if a != b)
                ctx.expect(bad == 0, f"{col}: {bad} ids differ from generator truth")
        ids = ctx.spark.read.parquet(os.path.join(self.ix, "vectors")).select("vec_id").toPandas()
        live = self.truth["vec_live"][w]
        ctx.expect(np.array_equal(np.sort(ids["vec_id"].to_numpy()), live),
                   f"index holds {len(ids)} ids, base + adds - deletes is {len(live)}")
        vecs = self.truth["vectors"][live].astype(np.float64)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        for q in self.truth["queries"]:
            qq = q.astype(np.float64)
            sims = vecs @ (qq / np.linalg.norm(qq))
            top = np.lexsort((live, -np.round(sims, 6)))[:IVF_K]
            got = self.probe(ctx, q, [int(c) for c in self.cent_ids])
            ok = len(got) == IVF_K and all(
                abs(r["sim"] - np.round(sims[np.searchsorted(live, r["vec_id"])], 6)) < 2e-6
                and abs(r["sim"] - np.round(sims[t], 6)) < 2e-6
                for r, t in zip(got, top))
            ctx.expect(ok, "probe over all cells differs from the brute-force top-k")
        if ctx.tracing:
            d = F.lit(self._date(w))
            row = ctx.spark.read.parquet(self._state(w)).agg(
                F.sum(((F.col("updated_at") == d) & (F.col("added_at") < d)).cast("int")).alias("chg"),
                F.sum(F.col("removed_at").isNull().cast("int")).alias("live"),
            ).first()
            self.changed_share = row["chg"] / row["live"]

    def op_walls(self, ctx) -> list[float]:
        return ctx.walls("probe")

    def named(self, ctx) -> dict:
        out = {}
        for kind, name in (("snapshot_publish", "snapshot_publish_p50_s"), ("index_add", "index_add_p50_s"),
                           ("index_delete", "index_delete_p50_s"), ("probe", "probe_p50_s")):
            out[name] = (ctx.pct(ctx.walls(kind), 50), "s")
        probes = ctx.walls("probe")
        out["probe_p90_s"] = (ctx.pct(probes, 90), f"s (of {len(probes)})")
        return out

    def throughput(self, ctx) -> float:
        walls = ctx.walls()
        return len(walls) / sum(walls)

    def layers(self, ctx, spans) -> dict:
        out = {}
        n_del = 0
        for name, key in (("add", "ivf_index_incremental_add"), ("delete", "ivf_index_delete"),
                          ("probe", "ivf_probe_index")):
            mine = [s for s in spans if s.layer == "plans.similarity" and s.name == key]
            out[f"plans.similarity.{name}_s"] = sum(s.dur for s in mine)
            m = ctx.spark_of(mine)
            if name == "probe":
                out["plans.similarity.probe_bytes_read"] = m["_in_bytes"]
            if name == "delete":
                n_del = len(mine) * self.DELETE
                out["plans.similarity.delete_rewrite_ratio"] = m["_out_rows"] / n_del if n_del else 0.0
        files = [n for traced, n in self.index_files if traced]
        out["plans.similarity.index_files"] = float(np.mean(files)) if files else 0.0
        out["operators.merge.changed_share"] = getattr(self, "changed_share", 0.0)
        reports = [r for traced, r in self.compactions if traced]
        out["operators.compaction.files_before"] = sum(r["files_before"] for r in reports)
        out["operators.compaction.files_after"] = sum(r["files_after"] for r in reports)
        return out


WORKLOADS = {w.name: w for w in (CorpusDedup, LakeLifecycle)}
