"""The benchmark's workloads: each repeats one operation of one kind.

Every workload generates its inputs from the seed in ``setup``, and every
operation starts from the same state, so two operations of one run do
the same work and their Spark and Delta counters repeat exactly. ``op``
is the timed operation. ``traced_op`` makes the same call with a span
around each call into a layer: where the operation is one composed call
(``run_pipeline``, ``near_dedup_survivors``), the stage functions it
calls are wrapped for the op (``tracing.traced_calls``) and each
materializes its output, so a span is that layer's own time.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from value_at_risk_spark.operators import dedup
from value_at_risk_spark.operators.merge import merge_into_delta_native
from value_at_risk_spark.plans import var_pipeline
from value_at_risk_spark.plans.var_pipeline import VarConfig, aggregate_var, run_pipeline
from value_at_risk_spark.queries import text as text_queries
from value_at_risk_spark.queries.text import near_dedup_survivors
from value_at_risk_spark.sources.deltalog import read_delta, write_delta
from value_at_risk_spark.sources.registry import Registry

from tracing import delta_counters, delta_log_state, traced_calls

FACTORS = ("SP500", "NYSE", "OIL", "TREASURY", "DOWJONES")
COUNTRIES = ("US", "UK", "DE")
INDUSTRIES = ("ENERGY", "FINANCE", "HEALTH", "TECH")
# the slicings of the VaR report, each timed in the traced op
SLICES = {
    "country": ["country"],
    "industry": ["industry"],
    "country_industry": ["country", "industry"],
}
# span of each stage run_pipeline calls (functions of plans.var_pipeline)
PIPELINE_SPANS = {
    "market_features": "plans.market_features",
    "trailing_volatility": "plans.trailing_volatility",
    "train_models": "model.fit_ols_per_group",
    "simulate": "montecarlo.simulate_trials",
    "score_trials": "model.score",
    "aggregate_var": "plans.aggregate_var",
    "backtest": "plans.backtest",
}
# span of each stage near_dedup_survivors calls: functions of
# queries.text, then operators.dedup.connected_components. The verify
# stage is what _lsh_verified_pairs does besides the two calls inside it
DEDUP_SPANS = {
    "minhash_signatures": "operators.minhash_signatures",
    "minhash_lsh_pairs": "operators.minhash_lsh_pairs",
    "_lsh_verified_pairs": "operators.jaccard_verify",
}
# relative tolerance for float results whose summation order Spark
# does not fix (hash-aggregate input order varies between runs)
RTOL = 1e-9
# Delta auto-checkpoint interval of the published tables; small, so the
# base tables are cheap to build and still put a checkpoint in every op
CHECKPOINT_INTERVAL = 2

# full: the reference's shape (27 tickers, 5 factors, weekly run
# dates) over three years of days, 78 run dates, and VarConfig's
# default of 1,000 trials a run date
SIZES = {
    "full": {
        "days": 750,
        "tickers": 27,
        "sim_weeks": 78,
        "trials": 1000,
        "docs": 1000,
        "clusters": 50,
        "cluster_size": 4,
    },
    "tiny": {
        "days": 160,
        "tickers": 6,
        "sim_weeks": 4,
        "trials": 20,
        "docs": 120,
        "clusters": 6,
        "cluster_size": 3,
    },
}


def _noop(df) -> None:
    """Run a frame's whole plan without collecting it to the driver."""
    df.write.format("noop").mode("overwrite").save()


def make_market(seed: int, days: int, tickers: int) -> dict[str, pd.DataFrame]:
    """Seeded factor indices, stock closes driven by them, and portfolio
    weights with each ticker's country and industry."""
    rng = np.random.default_rng(seed)
    dates = pd.bdate_range("2019-01-01", periods=days)
    k = len(FACTORS)
    f = rng.multivariate_normal(np.zeros(k), 1e-4 * (np.eye(k) + 0.3), size=days)
    indicators = pd.DataFrame(100 * np.exp(np.cumsum(f, axis=0)), columns=FACTORS)
    indicators["date"] = dates
    betas = rng.normal(0.0, 0.7, (tickers, k))
    r = f @ betas.T + rng.normal(0.0, 1e-3, (days, tickers))
    names = [f"T{i:02d}" for i in range(tickers)]
    stocks = pd.DataFrame(
        {
            "ticker": np.repeat(names, days),
            "date": np.tile(dates, tickers),
            "close": (50 * np.exp(np.cumsum(r, axis=0))).T.ravel(),
        }
    )
    portfolio = pd.DataFrame(
        {
            "ticker": names,
            "weight": rng.dirichlet(np.ones(tickers)),
            "country": rng.choice(COUNTRIES, tickers),
            "industry": rng.choice(INDUSTRIES, tickers),
        }
    )
    return {"stocks": stocks, "indicators": indicators, "portfolio": portfolio}


class Workload:
    """One repeated operation over seeded inputs.

    ``warmup_ops`` ops run before timing starts. The first op of a
    process is cold, 2-3x the time of the next ones (JIT, generated
    code, Python workers), and ops keep getting faster for a few more.
    A fixed count puts the timed ops at the same place on that curve in
    every run; it is as many as the benchmark's time budget allows.
    """

    name = ""
    warmup_ops = 1

    def __init__(self, spark, seed: int, size: dict, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.work = work_dir
        self.rows_per_op = 0

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, op_index: int) -> None:
        """Untimed per-op preparation."""

    def op(self, tr):
        raise NotImplementedError

    def traced_op(self, tr):
        """The op's work with a span around each call into a layer."""
        raise NotImplementedError

    def check(self, out) -> str | None:
        """Return why ``out`` is wrong, or None when it is right."""
        raise NotImplementedError

    def delta_tables(self) -> list[str]:
        """Delta tables the next op writes (for the log counters)."""
        return []

    def user_bytes(self) -> int:
        """Bytes of the rows one op submits for writing."""
        return 0


class VarNightly(Workload):
    """One op: the nightly VaR batch. ``run_pipeline`` with its eager
    checkpoints, the backtest forced, then the VaR series published to
    native Delta tables: appended to the run log, MERGEd by date into
    the VaR history, and the history read back.

    Every op publishes into a fresh copy of the same two tables. The
    history's version puts an auto-checkpoint inside the op's MERGE."""

    name = "var_nightly"

    def setup(self) -> None:
        s = self.size
        market = make_market(self.seed, s["days"], s["tickers"])
        reg = Registry(self.work)
        for name, pdf in market.items():
            self.spark.createDataFrame(pdf).write.parquet(reg.path(name))
        self.stocks = reg.read(self.spark, "stocks")
        self.indicators = reg.read(self.spark, "indicators")
        self.portfolio = reg.read(self.spark, "portfolio")
        self.portfolio_pdf = market["portfolio"]
        dates = market["indicators"]["date"]
        self.sim_end = str(dates.iloc[-1].date())
        self.sim_start = str(dates.iloc[-5 * s["sim_weeks"]].date())
        self.run_dates = pd.date_range(self.sim_start, self.sim_end, freq="7D")
        self.cfg = VarConfig(runs=s["trials"], factor_cols=FACTORS)
        self.rows_per_op = len(self.run_dates) * s["trials"] * s["tickers"]
        rng = np.random.default_rng(self.seed + 1)
        self.sample_trials = sorted(
            int(t) for t in rng.choice(s["trials"], 2, replace=False)
        )
        self.first_var: pd.DataFrame | None = None
        self.checked = 0
        self.slices_checked = False
        self._make_tables(rng)

    def _make_tables(self, rng) -> None:
        """The VaR history: 20 weeks before the run window and the first
        half of it, as a previous night left them, in as many commits as
        the checkpoint interval, so the op's MERGE writes a checkpoint.
        The run log starts empty."""
        first = self.run_dates[0] - pd.Timedelta(weeks=20)
        hist_dates = pd.date_range(first, self.run_dates[len(self.run_dates) // 2], freq="7D")
        self.base_history = pd.DataFrame(
            {
                "date": hist_dates,
                "var_99": -np.abs(rng.normal(0.02, 0.005, len(hist_dates))),
                "mean_return": rng.normal(0.0, 0.001, len(hist_dates)),
            }
        )
        self.base = os.path.join(self.work, "base")
        config = {"delta.checkpointInterval": str(CHECKPOINT_INTERVAL)}
        commits = np.array_split(np.arange(len(hist_dates)), CHECKPOINT_INTERVAL)
        for i, rows in enumerate(commits):
            write_delta(
                self.spark, self._frame(self.base_history.iloc[rows]),
                os.path.join(self.base, "var_history"),
                configuration=config if i == 0 else None,
            )
        write_delta(
            self.spark, self._frame(self.base_history.iloc[:0]),
            os.path.join(self.base, "var_runs"), configuration=config,
        )
        self.path = None

    def _frame(self, pdf: pd.DataFrame):
        return self.spark.createDataFrame(
            pdf, "date timestamp, var_99 double, mean_return double"
        )

    def prepare(self, op_index: int) -> None:
        if self.path is not None:
            shutil.rmtree(self.path)
        self.path = os.path.join(self.work, f"op{op_index}")
        shutil.copytree(self.base, self.path)

    def delta_tables(self) -> list[str]:
        return [self._history(), os.path.join(self.path, "var_runs")]

    def _history(self) -> str:
        return os.path.join(self.path, "var_history")

    def user_bytes(self) -> int:
        # the VaR rows, three 8-byte columns, are submitted twice:
        # to the run log and to the history
        return 2 * len(self.run_dates) * 3 * 8

    def _pipeline(self) -> dict:
        return run_pipeline(
            self.spark, self.stocks, self.indicators, self.portfolio,
            self.cfg, sim_start=self.sim_start, sim_end=self.sim_end,
            materialize=True,
        )

    def op(self, tr):
        with tr.span("plans.build"):
            out = self._pipeline()
        with tr.span("plans.exec"):
            _noop(out["var"])
            _noop(out["backtest"])
        out["history"] = self._publish(tr, out["var"])
        return out

    def traced_op(self, tr):
        with traced_calls(tr, var_pipeline, PIPELINE_SPANS):
            out = self._pipeline()
        out["slices"] = {}
        for name, cols in SLICES.items():
            with tr.span(f"plans.aggregate_var.{name}"):
                out["slices"][name] = aggregate_var(
                    out["scored"], self.portfolio, self.cfg.confidence, group_cols=cols
                ).localCheckpoint(eager=True)
        out["history"] = self._publish(tr, out["var"], rewrite_probe=True)
        return out

    def _publish(self, tr, var, rewrite_probe: bool = False) -> pd.DataFrame:
        history = self._history()
        with tr.span("sources.write_delta"):
            write_delta(self.spark, var, os.path.join(self.path, "var_runs"))
        if rewrite_probe:
            holding = self._files_holding_dates(history, var)
            before = delta_log_state([history])
        with tr.span("operators.merge_into_delta_native"):
            merge_into_delta_native(self.spark, history, var, ["date"])
        if rewrite_probe:
            merged = delta_counters(before, delta_log_state([history]))
            tr.count("merge.rewrite_ratio", merged["delta.files_removed"] / holding)
        with tr.span("sources.read_delta"):
            latest = read_delta(self.spark, history)
        with tr.span("sources.snapshot"):
            return latest.toPandas()

    def _files_holding_dates(self, history: str, var) -> int:
        """Files that hold a source key: the files a MERGE must rewrite,
        against which the files it did rewrite are measured."""
        return (
            read_delta(self.spark, history)
            .join(F.broadcast(var.select("date")), "date", "left_semi")
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    def check(self, out) -> str | None:
        var = out["var"].toPandas().sort_values("date").reset_index(drop=True)
        if len(var) != len(self.run_dates):
            return f"{len(var)} VaR dates, expected {len(self.run_dates)}"
        self.checked += 1
        if self.first_var is None:
            self.first_var = var
        elif not np.allclose(var["var_99"], self.first_var["var_99"], rtol=RTOL, atol=0):
            return "VaR series differs from the first op's"
        # the draws once a run, after the cold op, where they cost least
        if self.checked == 2:
            problem = self._check_draws(out)
            if problem:
                return problem
        # the slices once a run, on the first traced op
        if "slices" in out and not self.slices_checked:
            self.slices_checked = True
            problem = self._check_slices(out)
            if problem:
                return problem
        return self._check_history(out["history"], var)

    def _check_slices(self, out) -> str | None:
        """Each slice's VaR equals np.percentile over its trials' weighted
        returns, computed on the driver from the scored trials."""
        scored = out["scored"].toPandas().merge(self.portfolio_pdf, on="ticker")
        scored["wr"] = scored["return"] * scored["weight"]
        q = 100.0 - self.cfg.confidence
        for name, cols in SLICES.items():
            keys = ["date", *cols]
            per_trial = scored.groupby([*keys, "trial_id"])["wr"].sum()
            want = per_trial.groupby(level=keys).agg(lambda x: np.percentile(x, q))
            got = out["slices"][name].toPandas().set_index(keys)["var_99"]
            if len(got) != len(want):
                return f"slice {name}: {len(got)} rows, expected {len(want)}"
            got = got.reindex(want.index)
            if not np.allclose(got, want, rtol=RTOL, atol=0):
                return f"slice {name}: VaR differs from np.percentile over its trials"
        return None

    def _check_draws(self, out) -> str | None:
        """Sampled (date, trial) draws equal the trial-seeded generator's."""
        vol = out["volatility"].toPandas().sort_values("date")
        sims = out["simulations"].filter(
            F.col("trial_id").isin(self.sample_trials)
        ).toPandas()
        if len(sims) != len(self.run_dates) * len(self.sample_trials):
            return f"{len(sims)} sampled draws, expected one per date and trial"
        for row in sims.itertuples():
            at = vol[vol["date"] <= row.date].iloc[-1]
            cov = np.array([np.asarray(r) for r in at["vol_cov"]])
            want = np.random.default_rng(int(row.trial_id)).multivariate_normal(
                np.asarray(at["vol_avg"]), cov
            )
            if not np.allclose(np.asarray(row.features), want, rtol=RTOL, atol=1e-15):
                return f"draw for trial {row.trial_id} on {row.date} differs"
        return None

    def _check_history(self, history: pd.DataFrame, var: pd.DataFrame) -> str | None:
        """The history read back equals the base rows the night did not
        touch plus the night's VaR rows, value for value."""
        kept = self.base_history[~self.base_history["date"].isin(var["date"])]
        want = pd.concat([kept, var[kept.columns]]).sort_values("date").reset_index(drop=True)
        got = history.sort_values("date").reset_index(drop=True)
        if not got.equals(want):
            return "VaR history differs from the base rows updated by the night's series"
        return None


class CorpusDedup(Workload):
    """One op: the near-dedup query over a corpus with planted clusters
    of near-duplicates (one word changed per copy)."""

    name = "corpus_dedup"
    warmup_ops = 4

    def setup(self) -> None:
        s = self.size
        rng = np.random.default_rng(self.seed)
        vocab = np.array(
            ["".join(w) for w in rng.choice(list("abcdefghijklmnopqrstuvwxyz"), (5000, 7))]
        )
        n_plain = s["docs"] - s["clusters"] * s["cluster_size"]
        texts: list[str] = []
        members: list[int] = []
        for _ in range(n_plain):
            texts.append(" ".join(rng.choice(vocab, rng.integers(40, 80))))
            members.append(-1)
        for c in range(s["clusters"]):
            words = rng.choice(vocab, rng.integers(40, 80))
            for k in range(s["cluster_size"]):
                copy = words.copy()
                if k:
                    copy[rng.integers(3, len(copy) - 3)] = rng.choice(vocab)
                texts.append(" ".join(copy))
                members.append(c)
        order = rng.permutation(len(texts))
        docs = pd.DataFrame(
            {"doc_id": np.arange(len(texts), dtype=np.int64), "text": [texts[i] for i in order]}
        )
        cluster_of = np.array(members)[order]
        self.clusters = [
            set(np.flatnonzero(cluster_of == c).tolist()) for c in range(s["clusters"])
        ]
        self.n_docs = len(docs)
        self.rows_per_op = self.n_docs
        self.spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
            Registry(self.work).path("documents")
        )
        self.first: set[int] | None = None

    def op(self, tr):
        with tr.span("queries.near_dedup_survivors"):
            rows = near_dedup_survivors(self.spark, self.work).collect()
        return {r.doc_id for r in rows}

    def traced_op(self, tr):
        stats: dict = {}
        cc = {"connected_components": "operators.connected_components"}
        with traced_calls(tr, text_queries, DEDUP_SPANS) as calls, traced_calls(
            tr, dedup, cc, extra_kwargs={"connected_components": {"stats": stats}}
        ):
            rows = near_dedup_survivors(self.spark, self.work).collect()
        tr.count("dedup.candidate_pairs", calls["minhash_lsh_pairs"].count())
        tr.count("dedup.verified_pairs", calls["_lsh_verified_pairs"].count())
        tr.count("dedup.cc_rounds", stats.get("rounds", 0))
        return {r.doc_id for r in rows}

    def check(self, survivors) -> str | None:
        if self.first is None:
            self.first = survivors
        elif survivors != self.first:
            return "survivors differ from the first op's"
        for c, ids in enumerate(self.clusters):
            kept = ids & survivors
            if kept != {min(ids)}:
                return f"planted cluster {c} keeps {sorted(kept)}, expected [{min(ids)}]"
        want = self.n_docs - sum(len(c) - 1 for c in self.clusters)
        if len(survivors) != want:
            return f"{len(survivors)} survivors, expected {want}"
        return None


WORKLOADS = {w.name: w for w in (VarNightly, CorpusDedup)}
