"""Benchmark workloads: generated inputs, the operations one pass runs
through the engine's public calls, and the check of every output.

An operation is split in two timed parts: ``build`` (the Python/py4j
work that constructs the plan, including any eager jobs inside it) and
``execute`` (forcing the plan). Checks run after the pass, untimed.
"""

from __future__ import annotations

import glob
import os

import gen

# Queries of the frozen bench canary this mix keeps: a TPC-H-style join
# and an event window. The canary is imported from bench.py, not
# copied, so a renamed entry fails here.
CANARY_SUBSET = (
    "q3_shipping_priority",
    "sessionize_events",
)
# Members that put the work inside the query function or outside the
# JVM: an applyInPandas blocked GEMM (Python workers), a checkpoint
# loop and a micro-batch stream.
EXTRA_QUERIES = (
    "embedding_near_dup",
    "copurchase_label_propagation",
    "stream_tumbling_event_counts",
)


class Op:
    name = ""

    def build(self, spark):
        raise NotImplementedError

    def execute(self, built):
        raise NotImplementedError

    def check(self, output) -> str | None:
        """None when the output is correct, else what is wrong."""
        raise NotImplementedError


# ------------------------------------------------------------ wordcount


class _WordCountOp(Op):
    name = "wordcount"

    def __init__(self, corpus: str, out_dir: str, truth: dict) -> None:
        self.corpus, self.out_dir, self.truth = corpus, out_dir, truth

    def build(self, spark):
        from pyspark.sql import functions as F

        from mapreduce511_spark.operators.wordcount import word_count

        docs = spark.read.text(self.corpus, recursiveFileLookup=True).withColumnRenamed(
            "value", "text"
        )
        counts = word_count(docs).orderBy("word")
        return counts.select(
            F.concat_ws("\t", F.col("word"), F.col("cnt").cast("string")).alias("value")
        ).coalesce(1)

    def execute(self, built):
        built.write.mode("overwrite").text(self.out_dir)
        return self.out_dir

    def check(self, output) -> str | None:
        total = distinct = 0
        prev = ""
        for path in sorted(glob.glob(os.path.join(output, "part-*"))):
            with open(path) as fh:
                for line in fh:
                    word, _, cnt = line.rstrip("\n").partition("\t")
                    if word <= prev:
                        return f"output not sorted at {word!r}"
                    prev = word
                    total += int(cnt)
                    distinct += 1
        if total != self.truth["tokens"]:
            return f"sum(cnt)={total} != {self.truth['tokens']} tokens"
        if distinct != self.truth["distinct_words"]:
            return f"{distinct} words != {self.truth['distinct_words']} distinct"
        return None


class WordCountText:
    """The reference's own job: text corpus -> sorted word\\tcount."""

    n_tokens = 3_000_000
    # passes are short, and per-pass CPU keeps falling while the JIT
    # compiles the per-job driver code: a fixed, larger pass count keeps
    # the median at the same point of that curve on every run
    min_warm = 8

    def prepare(self, work: str, seed: int) -> dict:
        self.corpus = os.path.join(work, "corpus")
        self.truth = gen.make_corpus(self.corpus, seed, self.n_tokens)
        self.out = os.path.join(work, "out", "wordcount")
        return self.truth

    def ops(self, spark) -> list[Op]:
        return [_WordCountOp(self.corpus, self.out, self.truth)]


# ---------------------------------------------------------- log analyze


class _AnalyzeOp(Op):
    """One step of ``cli analyze``."""

    def __init__(self, name: str, build, check=None) -> None:
        self.name, self._build, self._check = name, build, check

    def build(self, spark):
        return self._build(spark)

    def execute(self, built):
        return built() if callable(built) else built

    def check(self, output) -> str | None:
        return self._check(output) if self._check else None


def _read_csv_dir(path: str) -> list[dict]:
    import csv

    rows: list[dict] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(part, newline="") as fh:
            rows.extend(csv.DictReader(fh))
    return rows


class LogAnalyze:
    """The paper's analytics pipeline over a generated experiment tree,
    step by step as ``cli analyze`` runs it."""

    min_warm = 2

    def prepare(self, work: str, seed: int) -> dict:
        self.truth = gen.make_log_tree(os.path.join(work, "logs"), seed)
        self.out = os.path.join(work, "out", "analyze")
        return self.truth

    def _check_raw(self, path: str) -> str | None:
        rows = {f"{r['dataset']}|{float(r['slowstart'])}": r for r in _read_csv_dir(path)}
        want = self.truth["configs"]
        if set(rows) != set(want):
            return f"result_raw configs {sorted(rows)} != {sorted(want)}"
        for col in ("map_s", "total_s"):
            bad = [k for k in want if abs(float(rows[k][col]) - want[k][col]) > 0.005]
            if bad:
                return f"result_raw {col} differs for {bad}"
        return None

    def _check_wide(self, path: str) -> str | None:
        rows = _read_csv_dir(path)
        if sorted(r["dataset"] for r in rows) != sorted(self.truth["datasets"]):
            return f"result_time datasets {[r['dataset'] for r in rows]}"
        for r in rows:
            for ss in self.truth["slowstarts"]:
                want = self.truth["configs"][f"{r['dataset']}|{ss}"]["total_s"]
                if abs(float(r[str(ss)]) - want) > 0.005:
                    return f"result_time {r['dataset']}@{ss}={r[str(ss)]} != {want}"
        return None

    def ops(self, spark) -> list[Op]:
        from mapreduce511_spark.plans import (
            averaged_series,
            config_metric_mean,
            parse_monitor_lines,
            parse_progress_lines,
            stage_metrics,
            stage_summary,
            wide_report,
        )
        from mapreduce511_spark.plans.charts import prepare_chart_series, render_charts_svg
        from mapreduce511_spark.plans.report import result_raw, write_report_csv
        from mapreduce511_spark.plans.runs import experiment_lines

        root, out, st = self.truth["root"], self.out, {}

        def lines(spark):
            st["mon"] = parse_monitor_lines(experiment_lines(spark, root, "monitor.log"))
            st["stg"] = stage_metrics(
                parse_progress_lines(experiment_lines(spark, root, "job_output.log"))
            )
            st["summ"] = stage_summary(st["stg"])
            st["cpu_series"] = averaged_series(st["mon"], "cpu")
            st["cpu"] = config_metric_mean(st["cpu_series"], "cpu")
            return None

        def report(name: str, frame):
            path = os.path.join(out, name)

            def build(spark):
                df = frame()
                return lambda: (write_report_csv(df, path), path)[1]

            return build

        def charts(spark):
            prepared = prepare_chart_series(st["cpu_series"], "cpu")
            return lambda: render_charts_svg(prepared, os.path.join(out, "charts"), "cpu")

        n_ds = len(self.truth["datasets"])

        def rows_check(path: str) -> str | None:
            n = len(_read_csv_dir(path))
            return None if n == n_ds else f"{path}: {n} rows != {n_ds}"

        # the paper's long report and its two headline wide reports (time
        # and CPU per slowstart); result_map/shuffle/reduce/overlap are
        # the same wide_report call on other columns, left out to fit
        # the run budget
        ops = [
            _AnalyzeOp("plans.lines", lines),
            _AnalyzeOp(
                "plans.result_raw",
                report("result_raw", lambda: result_raw(st["summ"], st["cpu"])),
                self._check_raw,
            ),
            _AnalyzeOp(
                "plans.result_time",
                report("result_time", lambda: wide_report(st["summ"], "total_s", "min")),
                self._check_wide,
            ),
            _AnalyzeOp(
                "plans.result_cpu",
                report("result_cpu", lambda: wide_report(st["cpu"], "avg_cpu", "max")),
                rows_check,
            ),
            _AnalyzeOp(
                "plans.charts", charts,
                lambda files: None if len(files) == n_ds else f"{len(files)} charts != {n_ds}",
            ),
        ]
        return ops


# ------------------------------------------------------------ query mix


def canonical_rows(pdf) -> tuple[list[str], list[tuple[str, ...]]]:
    """Column names in name order and the sorted canonical rows of a
    pandas frame, formed as the repo's oracle gate forms them."""
    from tests.oracle_check import _canon

    cols = sorted(pdf.columns)
    return cols, sorted(tuple(_canon(v) for v in row)
                        for row in pdf[cols].itertuples(index=False, name=None))


def _same_value(a: str, b: str) -> bool:
    """Equal canonical values, or two floats one unit apart in their last
    printed decimal and within 1e-6 of each other relatively: a large sum
    rounded to cents can round either way when Spark and the oracle add
    in different orders (181366.29 against 181366.30 for
    q3_shipping_priority on one seed), while 1.4 against 1.5 is wrong."""
    if a == b:
        return True
    if "." not in a or "." not in b:
        return False
    try:
        x, y = float(a), float(b)
    except ValueError:
        return False
    places = max(len(a.partition(".")[2]), len(b.partition(".")[2]))
    diff = abs(x - y)
    return diff <= 10.0 ** -places * (1 + 1e-9) and diff <= 1e-6 * max(abs(x), abs(y))


class _QueryOp(Op):
    def __init__(self, name: str, fn, sf_dir: str, expected) -> None:
        self.name, self.fn, self.sf_dir, self.expected = name, fn, sf_dir, expected

    def build(self, spark):
        return self.fn(spark, self.sf_dir)

    def execute(self, built):
        return built.toPandas()

    def check(self, output) -> str | None:
        cols, rows = canonical_rows(output)
        want_cols, want_rows = self.expected
        if cols != want_cols:
            return f"columns {cols} != oracle {want_cols}"
        if len(rows) != len(want_rows):
            return f"{len(rows)} rows != oracle {len(want_rows)}"
        for got, want in zip(rows, want_rows):
            if not all(map(_same_value, got, want)):
                return f"row {got} != oracle {want}"
        return None


class QueryMix:
    """Registered queries, each collected to the client in a closed
    loop and compared row by row to its DuckDB oracle over the same
    files."""

    sf = 0.002
    min_warm = 2

    def prepare(self, work: str, seed: int) -> dict:
        import bench
        from mapreduce511_spark import queries as suite
        from tests.oracle_check import run_oracle

        missing = [n for n in CANARY_SUBSET if n not in bench._CANARY]
        if missing:
            raise KeyError(f"not in the bench canary: {missing}")
        self.names = CANARY_SUBSET + EXTRA_QUERIES
        self.sf_dir = os.path.join(work, "tables")
        truth = gen.make_tables(self.sf_dir, seed, self.sf)
        oracles = suite.all_oracles()
        self.expected = {
            n: canonical_rows(run_oracle(oracles[n], self.sf_dir)) for n in self.names
        }
        truth["expected_rows"] = {n: len(rows) for n, (_, rows) in self.expected.items()}
        self.truth = truth
        return truth

    def ops(self, spark) -> list[Op]:
        from mapreduce511_spark import queries as suite

        registry = suite.all_queries()
        return [
            _QueryOp(n, registry[n], self.sf_dir, self.expected[n]) for n in self.names
        ]


WORKLOADS = {
    "wordcount_text": WordCountText,
    "log_analyze": LogAnalyze,
    "query_mix": QueryMix,
}
