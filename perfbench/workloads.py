"""The benchmark's workloads: seeded inputs, one iteration of the job
as a user runs it through the public operators (default arguments),
the output checks, and the per-layer numbers each one reports.

Every workload is a closed loop: one job at a time from one process
on `local[4]`. The seed only shapes the generated inputs; the same
seed gives byte-identical inputs and a different seed gives different
keys with the same sizes.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil
import time

import duckdb
import numpy as np
import pandas as pd

from perfbench import tracing as T

# Input sizes. At this size an iteration's time is mostly query
# planning, code generation and job scheduling (2k and 8k features a
# side took the same time), so the sizes are set by the checks: the
# corpus is small because the dedup oracle in DuckDB takes about 3 s
# per thousand originals.
LAYER_FEATURES = 8_000  # features per side
N_DOCS = 1_500  # dedup corpus originals (plus as many truncated copies)
KNN_SAMPLE = 200  # knn rows checked against brute force
# ConflationJob buckets. The one argument the benchmark sets: every
# bucket is a few small Spark jobs (~1 s each here whatever its size),
# so the default 32 would put a single iteration over the time budget
# of a run. 4 buckets keep the kill/resume protocol and ~2,000 probes
# per bucket.
RESUME_BUCKETS = 4

WORDS = ("a the data table row column key value part line order customer "
         "query scan join merge sort hash group agg filter window stream "
         "batch spark fast slow big small vector").split()


# ---------------------------------------------------------------------------
# Seeded inputs
# ---------------------------------------------------------------------------


def layer_keys(seed: int, n: int) -> np.ndarray:
    """n distinct keys drawn from [0, 2n): which grid slots are
    occupied (and so every name, housenumber and distance class)
    depends on the seed; the count does not."""
    rng = np.random.default_rng([seed, 1])
    return np.sort(rng.choice(2 * n, size=n, replace=False)).astype(np.int64)


def documents(seed: int, n: int) -> pd.DataFrame:
    """`documents`-shaped rows: doc_id < 100000 and 30-70 words of a
    small vocabulary."""
    rng = np.random.default_rng([seed, 3])
    lens = rng.integers(30, 71, size=n)
    words = np.array(WORDS)
    text = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in lens]
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": text})


def digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pd.DataFrame):
            p = pd.util.hash_pandas_object(p, index=False).to_numpy()
        h.update(np.ascontiguousarray(p).tobytes())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# Shared helpers
# ---------------------------------------------------------------------------


# engine output columns as the oracle emits them (coordinates rounded
# to 9 places, as in the demo oracle SQL)
MATCH_COLS = ("osm_id, overture_id, round(lon, 9), round(lat, 9), "
              "distance_m, similarity")


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def _rows(con, sql: str) -> list[tuple]:
    return sorted(con.execute(sql).fetchall())


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _default(fn, name):
    return inspect.signature(fn).parameters[name].default


def _led(parts: dict, *names) -> T.Ledger:
    return T.merge(parts[n] for n in names if n in parts)


def _join_rows(led: T.Ledger, desc_re: str | None = None) -> float:
    return sum(
        sum(e.rows(j, desc_re) for j in T._JOINS) for e in led.executions
    )


def _indel(led: T.Ledger) -> dict[str, float]:
    return {
        "indel.rows_in": sum(e.rows("ArrowEvalPython") for e in led.executions),
        "indel.bytes_to_python": sum(
            e.metric("ArrowEvalPython", "data sent to Python workers")
            for e in led.executions
        ),
    }


def _written_rows(led: T.Ledger) -> float:
    return sum(e.rows("Execute InsertIntoHadoopFsRelationCommand")
               for e in led.executions)


class Workload:
    """One benchmark workload. `materialize` writes the inputs (set-up),
    `expect` computes the reference outputs (untimed), `iteration` runs
    the job once, `check` compares one iteration's outputs with the
    references, `summary` picks the workload's own unbounded numbers
    from them, and `layers` turns one traced iteration into per-layer
    numbers."""

    name = ""
    rows = 0  # input rows per iteration, for rows_per_s

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.inputs = os.path.join(work, "inputs")

    def materialize(self, spark) -> str:
        raise NotImplementedError

    def expect(self, spark) -> None:
        raise NotImplementedError

    def iteration(self, spark, tracer: T.Tracer, out: str) -> dict:
        raise NotImplementedError

    def check(self, outputs: dict) -> list[str]:
        raise NotImplementedError

    def summary(self, outputs: dict) -> dict[str, float]:
        return {}

    def layers(self, spans, parts: dict, outputs: dict) -> dict[str, float]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# nightly_dense: conflate -> matches -> knn -> pmtiles
# ---------------------------------------------------------------------------


class SpatialInputs(Workload):
    """Demo conflation layers derived from seeded keys: layer A (OSM
    side) and layer B (Overture side), both from every key."""

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.keys = layer_keys(seed, LAYER_FEATURES)
        self.rows = len(self.keys)
        self.a_path = os.path.join(self.inputs, "layer_a")
        self.b_path = os.path.join(self.inputs, "layer_b")

    def materialize(self, spark) -> str:
        """Both layers written by DuckDB from the demo's SQL
        derivations: the columns of `demo.spark_layer_a`/`_b`, without
        a Spark job, so set-up costs no query compilation."""
        con, cte = self._oracle()
        for path, table, key in ((self.a_path, "layer_a", "osm_id"),
                                 (self.b_path, "layer_b", "id")):
            os.makedirs(path, exist_ok=True)
            con.execute(f"""COPY ({cte} SELECT {key}, name, housenumber, lon, lat
                FROM {table}) TO '{path}/part-0.parquet' (FORMAT parquet)""")
        return digest(self.keys)

    def _oracle(self):
        """DuckDB with the seeded key table registered as the view the
        demo oracle SQL reads (`customer(c_custkey)`)."""
        from overmatch_spark import demo

        con = duckdb.connect()
        con.register("customer", pd.DataFrame({"c_custkey": self.keys}))
        return con, f"{demo.sql_layers_cte()},{demo.SQL_MATCHES}"

    def _expect_matches(self):
        con, cte = self._oracle()
        self.matches = _rows(con, f"""{cte}
            SELECT osm_id, overture_id, lon, lat, distance_m, similarity
            FROM matches""")
        return con, cte

    def _check_matches(self, con, path: str) -> list[str]:
        got = _rows(con, f"SELECT {MATCH_COLS} FROM {_parquet(path)}")
        if got != self.matches:
            return [f"matches differ from the DuckDB oracle "
                    f"({len(got)} rows vs {len(self.matches)})"]
        return []


class NightlyJob(SpatialInputs):
    """conflate -> write matches -> knn_fallback for the unmatched ->
    matches_to_pmtiles: the product's nightly path."""

    def expect(self, spark) -> None:
        from overmatch_spark import expressions as X
        from overmatch_spark.operators.pmtiles import matches_to_pmtiles
        from overmatch_spark.operators.tiles import auto_max_zoom
        from overmatch_spark.operators.dedup import sql_h60

        con, cte = self._expect_matches()
        self.con = con
        # knn: the unmatched named probes, and brute-force nearest
        # (ties by rint(dist*1000), then id) for a seeded sample
        self.unmatched = {r[0] for r in con.execute(f"""{cte}
            SELECT osm_id FROM layer_a WHERE name IS NOT NULL AND name != ''
            AND osm_id NOT IN (SELECT osm_id FROM matches)""").fetchall()}
        rng = np.random.default_rng([self.seed, 4])
        pool = sorted(self.unmatched)
        sample = [pool[i] for i in rng.choice(
            len(pool), size=min(KNN_SAMPLE, len(pool)), replace=False)]
        con.register("knn_sample", pd.DataFrame({"osm_id": sample}))
        d = X.sql_planar_distance(
            X.sql_merc_x("u.lon"), X.sql_merc_y("u.lat"),
            X.sql_merc_x("b.lon"), X.sql_merc_y("b.lat"))
        self.knn_sample = _rows(con, f"""{cte},
            cand AS (
              SELECT u.osm_id, b.id AS overture_id, {d} AS dist,
                     row_number() OVER (PARTITION BY u.osm_id
                       ORDER BY {X.sql_rint(f'({d}) * 1000')}, b.id) AS rn
              FROM layer_a u JOIN knn_sample s ON u.osm_id = s.osm_id
              CROSS JOIN layer_b b)
            SELECT osm_id, overture_id, {X.sql_round1('dist')}
            FROM cand WHERE rn = 1""")
        # pmtiles: stable ids over (osm_id, overture_id), the default
        # zoom rule and density drop, tiles per zoom
        top = 10 + 2 * sum(len(self.matches) > c
                           for c in _default(auto_max_zoom, "counts"))
        per_tile = _default(matches_to_pmtiles, "max_per_tile")
        zoom_sql = " UNION ALL ".join(
            f"SELECT match_id, {z} AS z, {X.sql_tile_x('lon', z)} AS x, "
            f"{X.sql_tile_y('lat', z)} AS y FROM ids"
            for z in range(10, top + 1, 2))
        tiles: dict = {}
        for z, x, y, mid in con.execute(f"""{cte},
            ids AS (SELECT *, row_number() OVER (ORDER BY osm_id, overture_id)
                    AS match_id FROM matches),
            t AS ({zoom_sql})
            SELECT z, x, y, match_id FROM (
              SELECT *, row_number() OVER (PARTITION BY z, x, y
                ORDER BY {sql_h60('CAST(match_id AS VARCHAR)')}, match_id) AS r
              FROM t) WHERE r <= {per_tile}""").fetchall():
            tiles.setdefault((z, x, y), []).append(mid)
        self.tiles = {k: sorted(v) for k, v in tiles.items()}

    def iteration(self, spark, tracer, out) -> dict:
        from overmatch_spark.operators.conflate import conflate
        from overmatch_spark.operators.knn import knn_fallback, release_caches
        from overmatch_spark.operators.pmtiles import matches_to_pmtiles

        a = spark.read.parquet(self.a_path)
        b = spark.read.parquet(self.b_path)
        paths = {k: os.path.join(out, k) for k in ("matches", "knn")}
        paths["pmtiles"] = os.path.join(out, "matches.pmtiles")
        with tracer.span("operators.conflate"):
            conflate(a, b).write.parquet(paths["matches"])
        m = spark.read.parquet(paths["matches"])
        with tracer.span("operators.knn"):
            caches: list = []
            knn_fallback(a, b, m, caches=caches).write.parquet(paths["knn"])
            release_caches(caches)
        with tracer.span("operators.pmtiles"):
            info = matches_to_pmtiles(m, paths["pmtiles"])
        return {"paths": paths, "pmtiles": info}

    def check(self, outputs) -> list[str]:
        from overmatch_spark.operators.pmtiles import PMTilesReader

        p = outputs["paths"]
        bad = self._check_matches(self.con, p["matches"])
        knn = self.con.execute(f"""SELECT osm_id, overture_id, distance_m
            FROM {_parquet(p['knn'])}""").fetchall()
        if {r[0] for r in knn} != self.unmatched or len(knn) != len(self.unmatched):
            bad.append("knn rows are not exactly the unmatched named probes")
        sample = {r[0] for r in self.knn_sample}
        if sorted(r for r in knn if r[0] in sample) != self.knn_sample:
            bad.append("knn sample differs from brute-force nearest")
        reader = PMTilesReader(p["pmtiles"])
        n_tiles = sum(1 for _ in reader.iter_tile_entries())
        if n_tiles != len(self.tiles):
            bad.append(f"pmtiles has {n_tiles} tiles, expected {len(self.tiles)}")
        else:
            for (z, x, y), ids in self.tiles.items():
                tile = reader.get_tile(z, x, y)
                got = sorted(f["id"] for f in tile["matches"]["features"]) \
                    if tile else []
                if got != ids:
                    bad.append(f"pmtiles tile {z}/{x}/{y} holds other features")
                    break
        return bad

    def layers(self, spans, parts, outputs) -> dict[str, float]:
        conf = _led(parts, "operators.conflate")
        knn = _led(parts, "operators.knn")
        pm = _led(parts, "operators.pmtiles")
        span = {s.name: s for s in spans}
        cand = _join_rows(conf)
        matches = _written_rows(conf)
        info = outputs["pmtiles"]
        return {
            "conflate.wall_s": span["operators.conflate"].wall_s,
            "conflate.cpu_s": span["operators.conflate"].cpu_s,
            "conflate.cover_rows": sum(e.rows("Generate") for e in conf.executions),
            "conflate.candidate_pairs": cand,
            "conflate.pair_yield": matches / cand if cand else 0.0,
            "conflate.shuffle_bytes": float(T.shuffle_bytes(conf)),
            "conflate.matches": matches,
            **_indel(T.merge(parts.values())),
            "knn.wall_s": span["operators.knn"].wall_s,
            "knn.cpu_s": span["operators.knn"].cpu_s,
            "knn.probes": _written_rows(knn),
            "knn.coarse_rows": sum(e.rows("Generate", r"lcell#")
                                   for e in knn.executions),
            "knn.exchanges": float(sum(
                sum(1 for n in e.nodes if n.name == "Exchange")
                for e in knn.executions)),
            "knn.shuffle_bytes": float(T.shuffle_bytes(knn)),
            "pmtiles.wall_s": span["operators.pmtiles"].wall_s,
            "pmtiles.driver_s": T.idle_s(span["operators.pmtiles"], pm.jobs),
            "pmtiles.cpu_s": span["operators.pmtiles"].cpu_s,
            "pmtiles.tiles": float(info["tiles"]),
            "pmtiles.contents": float(info["contents"]),
            "pmtiles.archive_bytes": float(info["bytes"]),
        }


# ---------------------------------------------------------------------------
# resume_then_dedup, part 1: ConflationJob, killed after half the buckets
# ---------------------------------------------------------------------------


class ResumeAfterKill(SpatialInputs):
    """prepare -> half the buckets -> a new job object resumes from the
    lineage. Write-heavy, and runs the cell join + UDF as many small
    per-bucket jobs."""

    def expect(self, spark) -> None:
        from overmatch_spark.operators.conflate import conflate

        self.con, _ = self._expect_matches()
        single = os.path.join(self.work, "single_shot")
        conflate(spark.read.parquet(self.a_path),
                 spark.read.parquet(self.b_path)) \
            .write.mode("overwrite").parquet(single)
        self.single = _rows(self.con,
                            f"SELECT {MATCH_COLS} FROM {_parquet(single)}")

    def iteration(self, spark, tracer, out) -> dict:
        from overmatch_spark.operators.checkpoint import ConflationJob

        a = spark.read.parquet(self.a_path)
        b = spark.read.parquet(self.b_path)
        job = ConflationJob(spark, out, n_buckets=RESUME_BUCKETS)
        with tracer.span("operators.checkpoint.prepare"):
            job.prepare(a, b)
        with tracer.span("operators.checkpoint.run"):
            job.run(max_buckets=job.n_buckets // 2)
        before = len(job.completed_buckets())
        del job  # the "kill": nothing but the work dir survives
        t0 = time.time()
        with tracer.span("operators.checkpoint.resume"):
            job = ConflationJob(spark, out, n_buckets=RESUME_BUCKETS)
            processed = job.run()
        resume_s = time.time() - t0
        return {
            "out": out,
            "resume_s": resume_s,
            "recomputed": processed - (job.n_buckets - before),
            "lineage": job.lineage(),
            "n_buckets": job.n_buckets,
        }

    def check(self, outputs) -> list[str]:
        sink = os.path.join(outputs["out"], "matches")
        bad = self._check_matches(self.con, sink)
        if _rows(self.con, f"SELECT {MATCH_COLS} FROM {_parquet(sink)}") \
                != self.single:
            bad.append("resumed output differs from single-shot conflate")
        if outputs["recomputed"] != 0:
            bad.append(f"{outputs['recomputed']} completed buckets recomputed")
        if len(outputs["lineage"]) != outputs["n_buckets"]:
            bad.append("lineage is missing buckets")
        return bad

    def summary(self, outputs) -> dict[str, float]:
        return {"resume_s": outputs["resume_s"]}

    def layers(self, spans, parts, outputs) -> dict[str, float]:
        span = {s.name: s for s in spans}
        ck = _led(parts, "operators.checkpoint.prepare",
                  "operators.checkpoint.run", "operators.checkpoint.resume")
        walls = [r["wall_ms"] / 1000.0 for r in outputs["lineage"]]
        med = T.median(walls)
        return {
            **_indel(ck),
            "checkpoint.prepare_s": span["operators.checkpoint.prepare"].wall_s,
            "checkpoint.bucket_s": med,
            "checkpoint.bucket_skew": max(walls) / med if med else 0.0,
            "checkpoint.bytes_written": float(_dir_bytes(outputs["out"])),
            "checkpoint.spark_jobs": float(len(ck.jobs)),
            "checkpoint.recomputed_buckets": float(outputs["recomputed"]),
            "checkpoint.resume_s": outputs["resume_s"],
        }


# ---------------------------------------------------------------------------
# resume_then_dedup, part 2: dedup_corpus
# ---------------------------------------------------------------------------


class NearDupDocs(Workload):
    """dedup_corpus over seeded documents plus a truncated copy of each
    (the corpus of the `dedup_corpus` oracle query), keeping the
    longest document per near-dup cluster. No spatial code runs."""

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.docs = documents(seed, N_DOCS)
        self.rows = 2 * N_DOCS
        self.path = os.path.join(self.inputs, "corpus")

    def materialize(self, spark) -> str:
        trunc = pd.DataFrame({
            "doc_id": self.docs["doc_id"] + 100000,
            "text": [" ".join(t.split(" ")[:-2]) for t in self.docs["text"]],
        })
        corpus = pd.concat([self.docs, trunc], ignore_index=True)
        corpus["score"] = corpus["text"].str.len().astype("float64")
        os.makedirs(self.path, exist_ok=True)
        corpus.to_parquet(os.path.join(self.path, "part-0.parquet"), index=False)
        return digest(self.docs)

    def expect(self, spark) -> None:
        """The `dedup_corpus` oracle of the driver contract, with the
        operator's default band layout and Jaccard threshold."""
        import __spark_entry__ as entry
        from overmatch_spark.operators.dedup import dedup_corpus

        bands = _default(dedup_corpus, "bands")
        rows = _default(dedup_corpus, "rows_per_band")
        if (bands, rows) != (8, 2):
            raise ValueError("the oracle encodes 8 bands x 2 rows")
        sql = entry.oracle_sql()["dedup_corpus"]
        thr = _default(dedup_corpus, "jaccard_threshold")
        sql = sql.replace("jaccard >= 0.5", f"jaccard >= {thr!r}")
        self.con = duckdb.connect()
        self.con.register("documents", self.docs)
        self.survivors = sorted(r[0] for r in self.con.execute(sql).fetchall())

    def iteration(self, spark, tracer, out) -> dict:
        from overmatch_spark.operators.dedup import dedup_corpus

        corpus = spark.read.parquet(self.path)
        with tracer.span("operators.dedup"):
            dedup_corpus(corpus, "text", "doc_id", score_col="score") \
                .write.parquet(out)
        return {"out": out}

    def check(self, outputs) -> list[str]:
        got = sorted(r[0] for r in self.con.execute(
            f"SELECT doc_id FROM {_parquet(outputs['out'])}").fetchall())
        if got != self.survivors:
            return [f"{len(got)} survivors, oracle keeps {len(self.survivors)}"]
        return []

    def layers(self, spans, parts, outputs) -> dict[str, float]:
        span = {s.name: s for s in spans}
        dd = _led(parts, "operators.dedup")
        # rows out of the first verify join (one per candidate pair and
        # execution of it) and out of the exact-Jaccard check, which the
        # optimizer runs as a Filter or folds into the condition of the
        # join that attaches the second shingle set
        cand = _join_rows(dd, r"Join \[id_a#")
        verified = _join_rows(dd, "array_intersect") + sum(
            e.rows("Filter", "array_intersect") for e in dd.executions)
        return {
            "dedup.wall_s": span["operators.dedup"].wall_s,
            "dedup.cpu_s": span["operators.dedup"].cpu_s,
            "dedup.candidate_pairs": cand,
            "dedup.verified_pairs": verified,
            "dedup.pair_yield": verified / cand if cand else 0.0,
            "dedup.shuffle_bytes": float(T.shuffle_bytes(dd)),
            "dedup.spark_jobs": float(len(dd.jobs)),
        }


class ResumeThenDedup(Workload):
    """The write-heavy batch half of the nightly run, as one job per
    iteration: the checkpointed conflation job killed and resumed, then
    corpus dedup, each on its own inputs and checked against its own
    references. Runs no knn and no tiling."""

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.members = [cls(seed, os.path.join(work, cls.__name__))
                        for cls in (ResumeAfterKill, NearDupDocs)]
        self.rows = sum(m.rows for m in self.members)

    def materialize(self, spark) -> str:
        return digest(*[np.frombuffer(m.materialize(spark).encode(), np.uint8)
                        for m in self.members])

    def expect(self, spark) -> None:
        for m in self.members:
            m.expect(spark)

    def iteration(self, spark, tracer, out) -> dict:
        return {
            i: m.iteration(spark, tracer, os.path.join(out, str(i)))
            for i, m in enumerate(self.members)
        }

    def check(self, outputs) -> list[str]:
        return [b for i, m in enumerate(self.members) for b in m.check(outputs[i])]

    def summary(self, outputs) -> dict[str, float]:
        out: dict[str, float] = {}
        for i, m in enumerate(self.members):
            out.update(m.summary(outputs[i]))
        return out

    def layers(self, spans, parts, outputs) -> dict[str, float]:
        out: dict[str, float] = {}
        for i, m in enumerate(self.members):
            out.update(m.layers(spans, parts, outputs[i]))
        return out


WORKLOADS = {
    "nightly_dense": NightlyJob,
    "resume_then_dedup": ResumeThenDedup,
}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path
