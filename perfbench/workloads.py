"""The benchmark workloads: what one pass does and how it is checked.

Each workload has the same shape:

* the constructor builds the seed's inputs and their DuckDB twins, before
  any Spark session exists; ``spark`` is set once the session is up;
* ``run_pass(tr, i)`` is the timed pass, with one span per call into the
  program;
* ``check(out)`` runs after every pass, outside its timing, with no Spark
  work: it raises ``CheckFailed`` on a wrong output and returns the
  pass's quality numbers;
* ``final_check(out)`` runs once, after the recorded passes, on the last
  pass's output: the checks that need Spark or a whole-output comparison,
  and the negative control (a corrupted copy of a checked output must be
  caught); it returns the run's quality numbers;
* ``cleanup(out)`` removes what the pass wrote.

``QueryOps`` is not a workload: it holds the registry's query operators,
which traced ``corpus_e2e`` runs time in rounds after their recorded
passes.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
from contextlib import contextmanager
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
from morphl_model_publishers_churning_users_spark import catalog
from morphl_model_publishers_churning_users_spark.operators import llm
from morphl_model_publishers_churning_users_spark.operators._shared import scratch_dir
from morphl_model_publishers_churning_users_spark.plans import churn, llm_corpus
from morphl_model_publishers_churning_users_spark.registry import get_oracles, get_queries
from morphl_model_publishers_churning_users_spark.sources.ga_source import source_ga_json
from tests.oracle_utils import _canon_frame, compare, duck_connect


class CheckFailed(Exception):
    pass


def _same_rows(what: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Order-insensitive, dtype-class-sensitive row multiset equality (the
    oracle harness's canonical form)."""
    if sorted(got.columns) != sorted(want.columns):
        raise CheckFailed(f"{what}: columns {sorted(got.columns)} != {sorted(want.columns)}")
    if len(got) != len(want):
        raise CheckFailed(f"{what}: {len(got)} rows, expected {len(want)}")
    g, w = _canon_frame(got), _canon_frame(want)
    if g != w:
        extra = list((g - w).items())[:3]
        raise CheckFailed(f"{what}: rows differ, e.g. {extra}")


def _caught(fn) -> bool:
    try:
        fn()
    except (CheckFailed, AssertionError):
        return True
    return False


@contextmanager
def _spanned(tr, pass_id: int, module, names: dict):
    """With tracing on, wrap the functions ``names`` of ``module`` in spans
    for the length of the block, so that calls the program's entry point
    makes to them are measured from outside; the block gets a dict of the
    wrapped calls' return values. With tracing off the module is left
    untouched and the dict stays empty."""
    returned: dict = {}
    if not tr.enabled:
        yield returned
        return
    saved = {attr: getattr(module, attr) for attr in names}

    def wrap(attr, span):
        fn = saved[attr]

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with tr.span(span, pass_id):
                returned[attr] = fn(*args, **kwargs)
            return returned[attr]

        return inner

    try:
        for attr, span in names.items():
            setattr(module, attr, wrap(attr, span))
        yield returned
    finally:
        for attr, fn in saved.items():
            setattr(module, attr, fn)


def _auc(label: np.ndarray, score: np.ndarray) -> float:
    """Rank-sum (Mann-Whitney) ROC AUC with tied scores averaged."""
    pos = label == 1
    n_pos, n_neg = int(pos.sum()), int((~pos).sum())
    if n_pos == 0 or n_neg == 0:
        return float("nan")
    ranks = pd.Series(score).rank(method="average").to_numpy()
    return (ranks[pos].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)


# ------------------------------------------------------------- churn_e2e

_FEATURES_TWIN = """
WITH ev AS (SELECT * FROM read_parquet('{path}')),
gaps AS (
    SELECT user_id,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
    FROM ev
), sessions AS (
    SELECT user_id, CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
    FROM gaps GROUP BY user_id
), per_user AS (
    SELECT user_id, COUNT(*) AS n_events,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_value,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS sum_exact,
           COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
           MAX(ts) AS last_ts
    FROM ev GROUP BY user_id
)
SELECT p.user_id, n_events, n_sessions, n_purchases, sum_value, sum_exact, active_days,
       ROUND((epoch_us(TIMESTAMP '{horizon}') - epoch_us(last_ts)) / CAST(86400000000.0 AS DOUBLE), 6) AS recency_days,
       last_ts,
       CASE WHEN last_ts < TIMESTAMP '{cutoff}' THEN 1 ELSE 0 END AS churned
FROM per_user p JOIN sessions s USING (user_id)
"""

AUC_FLOOR = 0.8
# plans.churn functions that churn.run calls, traced as spans inside it.
CHURN_INNER_SPANS = {"user_features": "churn.features", "fit_with_fallback": "churn.fit"}


class ChurnE2E:
    """GA landing + parse, then ``plans.churn.run`` (features, label, fit)
    and the write of its scored users, per pass."""

    name = "churn_e2e"

    def __init__(self, work: str, data: str, seed: int):
        self.spark = None
        self.work = work
        d = os.path.join(data, f"churn_s{seed}")
        self.events = os.path.join(d, "events.parquet")
        if not os.path.exists(self.events):
            os.makedirs(d, exist_ok=True)
            tmp = f"{self.events}.{os.getpid()}.tmp"
            gen.churn_events(seed, tmp)
            os.replace(tmp, self.events)
        self.events_bytes = os.path.getsize(self.events)
        self.preds: dict[int, pd.DataFrame] = {}

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.events}')")
            self.ga_twin = con.execute(get_oracles()["source_ga_json"]).df()
            feats = con.execute(_FEATURES_TWIN.format(
                path=self.events, horizon=churn.HORIZON, cutoff=churn.CHURN_CUTOFF)).df()
        finally:
            con.close()
        # avg_value is a double mean rounded to 6 places, so it can land on
        # either side of a half-way tie depending on the summation order;
        # it is checked against the exact decimal mean within half a unit
        # of the last place instead of bit for bit.
        feats["avg_value"] = [
            float(Decimal(s) / n) for s, n in zip(feats.pop("sum_exact"), feats["n_events"])
        ]
        self.feat_twin = feats

    def run_pass(self, tr, i: int) -> dict:
        spark = self.spark
        batch = os.path.join(self.work, "batches", f"b{i:04d}")
        os.makedirs(batch)
        os.link(self.events, os.path.join(batch, "events.parquet"))
        preds = os.path.join(batch, "predictions")
        with tr.span("churn_e2e.pass", i), _spanned(tr, i, churn, CHURN_INNER_SPANS) as inner:
            with tr.span("catalog.table", i):
                catalog.table(spark, batch, "events")
            with tr.span("ga_source.land", i):
                ga = source_ga_json(spark, batch)
            with tr.span("ga_source.parse", i):
                rows = ga.count()
            with tr.span("churn.run", i):  # the program's entry point: features, fit
                scored = churn.run(spark, batch)
            with tr.span("churn.score", i):
                scored.write.parquet(preds)
        out = {"pass": i, "batch": batch, "ga": ga, "rows": rows, "preds": preds}
        if "fit_with_fallback" in inner:  # traced: (model, train, eval_set)
            lr = inner["fit_with_fallback"][0].stages[-1]
            out["iterations"] = lr.summary.totalIterations if lr.hasSummary else 0
        return out

    def _check_features(self, got: pd.DataFrame) -> None:
        want = self.feat_twin
        _same_rows("features + label", got.drop(columns="avg_value"),
                   want.drop(columns="avg_value"))
        g = got.set_index("user_id")["avg_value"].sort_index()
        w = want.set_index("user_id")["avg_value"].sort_index()
        if not (g.index.equals(w.index) and np.allclose(g, w, rtol=0.0, atol=5.000001e-7)):
            raise CheckFailed("features: avg_value differs from the exact mean")

    def _check_predictions(self, p: pd.DataFrame) -> None:
        want = self.feat_twin[["user_id", "churned"]]
        if len(p) != len(want) or p["user_id"].duplicated().any():
            raise CheckFailed(f"predictions: {len(p)} rows for {len(want)} users, or a user twice")
        prob = p["churn_prob"]
        if prob.isna().any() or (prob < 0).any() or (prob > 1).any():
            raise CheckFailed("predictions: churn_prob outside [0, 1]")
        _same_rows("predictions (user_id, churned)", p[["user_id", "churned"]], want)

    def _check_auc(self, p: pd.DataFrame, eval_ids: set) -> float:
        ev = p[p["user_id"].isin(eval_ids)]
        auc = _auc(ev["churned"].to_numpy(), ev["churn_prob"].to_numpy())
        if not auc >= AUC_FLOOR:
            raise CheckFailed(f"churn eval AUC {auc:.4f} below floor {AUC_FLOOR}")
        return auc

    def check(self, out: dict) -> dict:
        if out["rows"] != len(self.ga_twin):
            raise CheckFailed(f"GA parse: {out['rows']} rows, twin has {len(self.ga_twin)}")
        p = pq.read_table(out["preds"]).to_pandas()
        self._check_predictions(p)
        self.preds[out["pass"]] = p
        q = {"ga_source.rows_out": out["rows"], "churn.users_scored": len(p)}
        if "iterations" in out:
            q["churn.fit.iterations"] = out["iterations"]
        return q

    def final_check(self, out: dict) -> dict:
        """The GA parse and the feature matrix + label row for row against
        their twins, and every checked pass's held-out AUC. The matrix and
        the held-out split are rebuilt from the same public functions that
        churn.run composes."""
        _same_rows("GA parse", out["ga"].toPandas(), self.ga_twin)
        labeled = churn.label_churn(churn.user_features(self.spark, out["batch"]))
        feats = labeled.toPandas()
        self._check_features(feats)
        _, test = churn.split_train_test(labeled)
        eval_ids = set(test.select("user_id").toPandas()["user_id"])
        aucs = {i: self._check_auc(p, eval_ids) for i, p in self.preds.items()}

        # Negative control: each corruption must fail its check.
        p = self.preds[out["pass"]]
        bad = p.copy()
        bad.loc[bad.index[0], "churn_prob"] = 1.5
        flipped = p.copy()
        flipped["churn_prob"] = 1.0 - flipped["churn_prob"]
        off = feats.copy()
        off.loc[off.index[0], "n_events"] += 1
        caught = (_caught(lambda: self._check_predictions(bad))
                  and _caught(lambda: self._check_auc(flipped, eval_ids))
                  and _caught(lambda: self._check_features(off)))
        return {"aucs": aucs, "negative_control_caught": caught}

    def cleanup(self, out: dict) -> None:
        shutil.rmtree(out["batch"], ignore_errors=True)
        shutil.rmtree(scratch_dir(f"ga_payloads_{os.path.basename(out['batch'])}"),
                      ignore_errors=True)


# ------------------------------------------------------------ corpus_e2e

_CURATED_TWIN = r"""
WITH scored AS (
    SELECT doc_id, lang, source, n_chars,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
           CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_est_tokens,
           md5(lower(trim(text))) AS content_hash
    FROM read_parquet('{path}')
), gated AS (
    SELECT * FROM scored WHERE n_words >= 10 AND n_chars >= 50
), curated AS (
    SELECT * FROM gated
    QUALIFY ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) = 1
), src AS (
    SELECT source, SUM(n_words) AS src_tokens FROM curated GROUP BY source
), tot AS (
    SELECT CAST(SUM(src_tokens) AS DOUBLE) AS all_tokens,
           CAST(COUNT(*) AS DOUBLE) AS n_sources FROM src
)
SELECT c.*, least((CAST(1.0 AS DOUBLE) / n_sources) / (src_tokens / all_tokens), 1.0) AS keep_w
FROM curated c JOIN src USING (source), tot
"""

# Recall floors, set from the operators' readings on 40 generated corpora
# (perfbench/METHOD.md): below the lowest reading of the shipped operators,
# above most readings of the same operators with fewer hash tables.
DEDUP_RECALL_FLOOR = 0.92
ANN_RECALL_FLOOR = 0.9


class CorpusE2E:
    """Curation pipeline, MinHash-LSH near-dup pairs and LSH ANN, per pass."""

    name = "corpus_e2e"

    def __init__(self, work: str, data: str, seed: int):
        self.spark = None
        self.work = work
        self.dir = os.path.join(data, f"corpus_s{seed}")
        self.truth = gen.build_corpus(self.dir, seed)
        self.planted = {tuple(p) for p in self.truth["fuzzy_pairs"]}
        self.ann_truth = {(int(q), n) for q, ns in self.truth["ann_top10"].items() for n in ns}

        docs = os.path.join(self.dir, "documents.parquet")
        con = duckdb.connect()
        try:
            twin = con.execute(_CURATED_TWIN.format(path=docs)).df()
        finally:
            con.close()
        # The sampling draw u = first 13 hex digits of md5(doc_id) / 2^52,
        # compared against the unrounded weight.
        u = np.array([int(hashlib.md5(str(d).encode()).hexdigest()[:13], 16) / 2.0**52
                      for d in twin["doc_id"]])
        twin["is_sampled"] = u < twin["keep_w"].to_numpy()
        twin["keep_w"] = twin["keep_w"].round(6)
        self.twin = twin
        if len(twin) != self.truth["survivors"]:
            raise CheckFailed(f"twin keeps {len(twin)} docs, ground truth {self.truth['survivors']}")

    def run_pass(self, tr, i: int) -> dict:
        spark = self.spark
        out = os.path.join(self.work, "batches", f"curated{i:04d}")
        with tr.span("corpus_e2e.pass", i):
            with tr.span("llm_corpus.run", i):
                llm_corpus.run(spark, self.dir).write.parquet(out)
            with tr.span("llm.dedup_fuzzy", i):
                pairs = llm.raw_dedup_fuzzy(spark, self.dir).collect()
            with tr.span("llm.simsearch_ann", i):
                nn = llm.raw_simsearch_ann(spark, self.dir).collect()
        return {"pass": i, "curated": out,
                "pairs": {(r["doc_a"], r["doc_b"]) for r in pairs},
                "nn": {(r["query_id"], r["neighbor_id"]) for r in nn}}

    def _check_curated(self, cur: pd.DataFrame) -> None:
        if len(cur) != self.truth["survivors"]:
            raise CheckFailed(f"curated: {len(cur)} docs, ground truth {self.truth['survivors']}")
        _same_rows("curated corpus", cur, self.twin)

    def _recalls(self, pairs: set, nn: set) -> dict:
        found = len(pairs & self.planted)
        m = {
            "llm.dedup_fuzzy.pairs_out": len(pairs),
            "llm.dedup_fuzzy.precision": found / len(pairs) if pairs else 0.0,
            "llm.dedup_fuzzy.recall": found / len(self.planted),
            "llm.simsearch_ann.recall": len(nn & self.ann_truth) / len(self.ann_truth),
        }
        if m["llm.dedup_fuzzy.recall"] < DEDUP_RECALL_FLOOR:
            raise CheckFailed(f"dedup_fuzzy recall {m['llm.dedup_fuzzy.recall']:.3f} below floor")
        if m["llm.simsearch_ann.recall"] < ANN_RECALL_FLOOR:
            raise CheckFailed(f"simsearch_ann recall {m['llm.simsearch_ann.recall']:.3f} below floor")
        return m

    def check(self, out: dict) -> dict:
        cur = pq.read_table(out["curated"]).to_pandas()
        self._check_curated(cur)
        self._last = (cur, out["pairs"], out["nn"])
        m = self._recalls(out["pairs"], out["nn"])
        m["llm_corpus.keep_ratio"] = len(cur) / self.truth["n_docs"]
        return m

    def final_check(self, out: dict) -> dict:
        """Every pass's whole output is already checked; here only the
        negative control runs."""
        cur, pairs, nn = self._last
        flipped = cur.copy()
        flipped.loc[flipped.index[0], "is_sampled"] = not flipped.loc[flipped.index[0], "is_sampled"]
        caught = (_caught(lambda: self._check_curated(flipped))
                  and _caught(lambda: self._recalls(set(list(pairs)[: len(pairs) // 2]), nn))
                  and _caught(lambda: self._recalls(pairs, set(list(nn)[: len(nn) // 2]))))
        return {"negative_control_caught": caught}

    def cleanup(self, out: dict) -> None:
        shutil.rmtree(out["curated"], ignore_errors=True)


# ------------------------------------------------------- query operators

# Read-only registry operators over the star schema (the Engine.query use):
# joins, aggregates, windows, time series, row and set operators.
QUERY_KEYS = (
    "join_star", "join_inner_hash", "join_asof",
    "agg_group", "agg_pivot", "agg_stats",
    "win_rownum",
    "ts_session", "ts_ewma",
    "dedup_exact",
    "topk",
)


def query_spans() -> dict[str, str]:
    """Query key -> span name ``<module>.<key>``."""
    queries = get_queries()
    return {k: f"{queries[k].__module__.rsplit('.', 1)[-1]}.{k}" for k in QUERY_KEYS}


class QueryOps:
    """Each query operator forced with ``.count()``, one round after
    another in a warm session. Every round checks each key's row count
    against its registry oracle run by DuckDB; once per run, one key,
    chosen by the seed, is compared row for row."""

    def __init__(self, data: str, seed: int):
        self.spark = None
        self.dir = os.path.join(data, "star")
        if not os.path.exists(self.dir):
            tmp = f"{self.dir}.{os.getpid()}.tmp"
            gen.build_star(tmp)
            os.replace(tmp, self.dir)
        queries, oracles = get_queries(), get_oracles()
        self.fns = {k: queries[k] for k in QUERY_KEYS}
        self.oracles = {k: oracles[k] for k in QUERY_KEYS}
        self.spans = query_spans()
        self.full_key = QUERY_KEYS[seed % len(QUERY_KEYS)]
        con = duck_connect(self.dir)
        try:
            self.counts = {k: con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
                           for k, sql in self.oracles.items()}
        finally:
            con.close()

    def run_round(self, tr, i: int) -> dict:
        counts = {}
        with tr.span("query_ops.round", i):
            for k in QUERY_KEYS:
                with tr.span(self.spans[k], i):
                    counts[k] = self.fns[k](self.spark, self.dir).count()
        return counts

    def check(self, counts: dict) -> None:
        bad = {k: (n, self.counts[k]) for k, n in counts.items() if n != self.counts[k]}
        if bad:
            raise CheckFailed(f"query row counts differ from the oracles: {bad}")

    def _compare(self, df, key: str) -> None:
        try:
            compare(df, self.oracles[key], self.dir)
        except AssertionError as exc:
            raise CheckFailed(f"{key}: {exc}") from exc

    def final_check(self, counts: dict) -> bool:
        """One key row for row against its oracle; then the negative
        control: a count off by one and a top-k one row short must be
        caught."""
        k = self.full_key
        self._compare(self.fns[k](self.spark, self.dir), k)
        short = self.fns["topk"](self.spark, self.dir).limit(self.counts["topk"] - 1)
        bumped = dict(counts, topk=counts["topk"] + 1)
        return (_caught(lambda: self._compare(short, "topk"))
                and _caught(lambda: self.check(bumped)))


WORKLOADS = {w.name: w for w in (ChurnE2E, CorpusE2E)}
