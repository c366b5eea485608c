"""Registry workload: a measured panel of ``__spark_entry__.queries()``,
one or two per operator module, plus the xxhash production lane's
LSH + Jaccard-verify call, over sf0.1 copies of the driver tables in
``perfbench/data`` into a noop sink.

Each panel query is checked against its ``oracle_sql()`` in DuckDB in
an untimed checked pass before the timed passes, normalized as the
repo's oracle gate normalizes. The xxhash lane has no oracle; its
verified pairs are checked for properties any hash family must keep
(exact Jaccard of the reported pair, threshold, ordering, uniqueness).
"""

from __future__ import annotations

import math
import random
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import duckdb

from harness import median, noop, pass_metrics, quantile, read_event_logs, start_session

DATA = Path(__file__).resolve().parent / "data"
# the sf0.1 tables the panel reads (documents: 5,000 rows, so fan_out
# fires on the document queries; embeddings: 2,000; events: 100,000)
TABLES = ("documents", "embeddings", "events")
LSH_THRESHOLD = 0.5

# Operator module -> the registry query timed for it, picked from a 4-core
# profile of all 113 queries at sf0.1 (profile_panel.py, median of three
# warm passes; each pick's time, share and reason are in README.md):
# similarity and text_analysis take the queries the roadmap's verify-stage
# and fan_out items target, every other module its heaviest query over
# these tables.
PANEL = {
    "dedup": "simhash_near_dup",
    "similarity": "embedding_near_dup",
    "text_analysis": "unigram_logprob",
    "validation": "mad_outliers",
    "encoders": "distinct_types_seen",
    "sampling": "rendezvous_shards",
    "asof": "asof_join_salted",
    "window_features": "event_transitions",
    "reshape": "jolt_shift_props",
    "multimodal": "video_features",
    "interval_join": "interval_join_windows",
    "sql": "latency_quantiles",
}


def _read(spark, name, data_dir=None):
    import __spark_entry__ as em

    return em._read(spark, str(data_dir or DATA), name)


def lsh_candidates(docs):
    import __spark_entry__ as em

    from fluvio_jolt_spark.operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(docs, num_hashes=16, bands=8, hash_family="xxhash64",
                                  bucket_cap=em.LSH_BUCKET_CAP)


def lsh_jaccard_xxhash(spark, data_dir=None):
    """The xxhash64 production lane's LSH + exact-Jaccard verify call,
    composed as the repo's bench composes it."""
    from fluvio_jolt_spark.operators.dedup import jaccard_verify

    docs = _read(spark, "documents", data_dir)
    return jaccard_verify(lsh_candidates(docs), docs, threshold=LSH_THRESHOLD)


def normalize(rows, columns):
    """Order-insensitive, NaN-tolerant, float-rounded rows (the oracle
    gate's normalization)."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, bool):
                vals.append(("b", v))
            elif isinstance(v, float):
                vals.append(("f", "nan") if math.isnan(v) else ("f", round(v, 6)))
            elif v is None:
                vals.append(("n",))
            else:
                vals.append(("v", str(v)))
        out.append(tuple(vals))
    out.sort()
    return out


def shingles(text: str, n: int = 3) -> set:
    words = text.split(" ")
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


class Registry:
    name = "registry"
    # one pass is longer than --seconds; the checked pass before it has
    # already run every panel query once, so it runs warm
    min_passes = traced_passes = 1
    planted = False  # self-check only: corrupt the expected output

    def __init__(self, seed: int, tracer, event_dir=None):
        import __spark_entry__ as em

        self.rng = random.Random(seed)
        self.tracer = tracer
        self.event_dir = event_dir
        queries = em.queries()
        self.ops = [(g, q, lambda spark, q=q: queries[q](spark, str(DATA)))
                    for g, q in PANEL.items()]
        self.ops.append(("xxhash", "lsh_jaccard_xxhash", lsh_jaccard_xxhash))
        self.spark = None
        self.verdicts: dict[str, str | None] = {}

    def setup(self) -> None:
        """Session start and warm-up: every table scanned once (page
        cache), then one small Arrow-batched Python query outside the
        panel, which starts the session's Python workers. The checked
        pass that follows warms the panel queries themselves."""
        import __spark_entry__ as em

        self.spark = start_session(event_dir=self.event_dir)
        self.tracer.attach(self.spark.sparkContext)
        for t in TABLES:
            noop(_read(self.spark, t))
        noop(em.queries()["image_features"](self.spark, str(DATA)))

    def prime(self, check: bool = True) -> None:
        """The checked pass, untimed, between the last set-up and the
        timed passes: every panel query collected once and compared with
        its oracle. It also fills the code-generation cache, so the timed
        passes all run warm. Oracles and comparisons run on a second
        thread while Spark computes the next query. Without `check`, the
        panel only runs once into the noop sink."""
        import __spark_entry__ as em

        if not check:
            for _, _, build in self.ops:
                noop(build(self.spark))
            return

        oracles = em.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
            with ThreadPoolExecutor(max_workers=1) as pool:
                pending = {}
                for group, name, build in self.ops:
                    try:
                        df = build(self.spark)
                        rows = [tuple(r) for r in df.collect()]
                    except Exception as e:  # noqa: BLE001 -- a query that raises is a failure
                        self.verdicts[name] = f"{type(e).__name__}: {e}"[:300]
                        continue
                    compare = self._check_lane if group == "xxhash" else self._check_query
                    pending[name] = pool.submit(compare, con, name, rows, df.columns, oracles)
                for name, verdict in pending.items():
                    try:
                        self.verdicts[name] = verdict.result()
                    except Exception as e:  # noqa: BLE001 -- a check that raises is a failure
                        self.verdicts[name] = f"{type(e).__name__}: {e}"[:300]
        finally:
            con.close()

    def run_pass(self, i: int) -> dict:
        records = []
        t_pass = time.perf_counter()
        for group, name, build in self.rng.sample(self.ops, len(self.ops)):
            with self.tracer.span(f"registry.{group}.{name}"):
                t0 = time.perf_counter()
                try:
                    df = build(self.spark)
                    built = time.perf_counter() - t0
                    noop(df)
                    error = None
                except Exception as e:  # noqa: BLE001 -- a failed query is counted, not fatal
                    built, error = time.perf_counter() - t0, f"{type(e).__name__}: {e}"[:300]
                records.append({"group": group, "name": name, "build_s": built,
                                "wall_s": time.perf_counter() - t0, "error": error})
        return {"wall_s": time.perf_counter() - t_pass, "queries": records}

    # ------------------------------------------------------------ checks

    def _check_query(self, con, name: str, rows: list, columns: list, oracles: dict) -> str | None:
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        expected = res.fetchall()
        if self.planted:
            expected = expected[1:]
        if sorted(columns) != sorted(cols):
            return f"columns {columns} != {cols}"
        if len(rows) != len(expected):
            return f"rows {len(rows)} != {len(expected)}"
        bad = sum(a != b for a, b in zip(normalize(rows, columns), normalize(expected, cols)))
        return f"{bad} rows differ" if bad else None

    def _check_lane(self, con, name: str, rows: list, columns: list, oracles: dict) -> str | None:
        import pyarrow.parquet as pq

        docs = pq.read_table(DATA / "documents.parquet", columns=["doc_id", "text"]).to_pydict()
        texts = dict(zip(docs["doc_id"], docs["text"]))
        pairs = set()
        for id_a, id_b, jac in rows:
            sa, sb = shingles(texts[id_a]), shingles(texts[id_b])
            exact = len(sa & sb) / len(sa | sb)
            if not (id_a < id_b and (id_a, id_b) not in pairs and abs(exact - jac) < 1e-12
                    and jac >= LSH_THRESHOLD):
                return f"bad pair {(id_a, id_b, jac)} (exact jaccard {exact})"
            pairs.add((id_a, id_b))
        return None

    def check(self, passes: list[dict]) -> tuple[int, int, dict]:
        """A query that failed its check in the checked pass counts as
        failed in every timed pass it ran."""
        records = [r for p in passes for r in p["queries"]]
        failed = sum(1 for r in records if r["error"] or self.verdicts[r["name"]])
        bad = {n: v for n, v in self.verdicts.items() if v}
        bad.update({r["name"]: r["error"] for r in records if r["error"]})
        return failed, len(records), {"check": {"queries": len(self.verdicts), "failures": bad}}

    def workload_metrics(self, passes: list[dict], wall: float) -> dict:
        q = [r["wall_s"] for p in passes for r in p["queries"]]
        return {
            "query_p50_s": {"value": median(q), "unit": "s"},
            "query_p90_s": {"value": quantile(q, 0.9), "unit": "s"},
            "query_samples": {"value": len(q), "unit": "count"},
            "query_walls_s": {r["name"]: r["wall_s"] for p in passes for r in p["queries"]},
        }

    # ------------------------------------------------------------ layers

    def run_milestones(self) -> None:
        """Candidate and kept pair counts of the xxhash LSH verify stage."""
        from fluvio_jolt_spark.operators.dedup import jaccard_verify

        docs = _read(self.spark, "documents")
        with self.tracer.span("milestone.verify_keep"):
            cands = lsh_candidates(docs).cache()
            n_cands = cands.count()
            n_kept = jaccard_verify(cands, docs, threshold=LSH_THRESHOLD).count()
            cands.unpersist()
        self.keep = (n_kept, n_cands)

    def layers(self, event_dir: Path, passes: list[dict], detail: dict) -> dict:
        ev = read_event_logs(event_dir)
        out = {}
        for g in {g for g, _, _ in self.ops}:
            executions = sum(r["group"] == g for p in passes for r in p["queries"])
            jobs = sum(e["jobs"] for d, e in ev.items() if d.startswith(f"registry.{g}."))
            for m in ("wall_s", "build_s"):
                out[f"registry.{g}.{m}"] = median(
                    [sum(r[m] for r in p["queries"] if r["group"] == g) for p in passes])
            out[f"registry.{g}.jobs_per_query"] = jobs / executions
        out.update(pass_metrics([e for d, e in ev.items() if d.startswith("registry.")], len(passes)))
        kept, cands = self.keep
        out["operators.dedup.verify_keep_frac"] = kept / cands if cands else 0.0
        detail["verify_pairs"] = {"kept": kept, "candidates": cands}
        return out

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
