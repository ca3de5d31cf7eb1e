"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: one
seed always yields byte-identical files. Each returns the ground truth
it planted, which the workload checks compare the engine's output to.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

# ---------------------------------------------------------------- corpus

CORPUS_FILES = 8
VOCAB_SIZE = 200_000
ZIPF_S = 1.1
WORDS_PER_LINE = 12

def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase words of 3-10 letters."""
    out: dict[str, None] = {}
    while len(out) < size:
        letters = rng.integers(97, 123, size=(size, 10), dtype=np.uint8)
        lens = rng.integers(3, 11, size=size)
        flat = letters.tobytes().decode("ascii")
        for i, n in enumerate(lens.tolist()):
            out.setdefault(flat[i * 10:i * 10 + n])
            if len(out) == size:
                break
    return np.array(list(out), dtype=object)


def make_corpus(out_dir: str, seed: int, n_tokens: int) -> dict:
    """Plain-text corpus of Zipf(``ZIPF_S``) words over a fixed
    vocabulary, split into ``CORPUS_FILES`` files of whitespace-separated
    lines. Returns the token count and the distinct-word count."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, VOCAB_SIZE)
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    ids = rng.choice(VOCAB_SIZE, size=n_tokens, p=p)
    os.makedirs(out_dir, exist_ok=True)
    per_file = -(-n_tokens // CORPUS_FILES)
    for f in range(CORPUS_FILES):
        chunk = ids[f * per_file:(f + 1) * per_file]
        words = vocab[chunk]
        lines = [
            " ".join(words[i:i + WORDS_PER_LINE])
            for i in range(0, len(words), WORDS_PER_LINE)
        ]
        with open(os.path.join(out_dir, f"part-{f:05d}.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return {
        "tokens": int(n_tokens),
        "distinct_words": int(np.unique(ids).size),
        "files": CORPUS_FILES,
        "vocab_size": VOCAB_SIZE,
        "zipf_s": ZIPF_S,
    }


# ------------------------------------------------------- experiment tree

DATASETS = ("100MB", "500MB", "1G", "5G")
SLOWSTARTS = (0.2, 0.5, 0.8, 1.0)
NODES = ("worker1-aa", "worker2-bb", "worker3-cc")
_FLAT = frozenset({"1G", "5G"})  # the reference's flat layout
RUNS_PER_CONFIG = 3  # nested layout; a flat config holds one run
MONITOR_SAMPLES = 60  # ``----`` blocks per monitor.log


def _progress_log(t0: dt.datetime, map_s: int, reduce_s: int, slowstart: float) -> str:
    """``mapreduce.Job`` progress lines: map climbs to 100% over
    ``map_s`` seconds; reduce starts once map passes ``slowstart`` and
    finishes ``reduce_s`` seconds after map is done."""
    fmt = "%Y-%m-%d %H:%M:%S"

    def line(offset: int, m: int, r: int) -> str:
        ts = (t0 + dt.timedelta(seconds=offset)).strftime(fmt)
        return f"{ts},123 INFO mapreduce.Job:  map {m}% reduce {r}%"

    lines = ["===== Running MapReduce Job ====="]
    for i in range(11):
        frac = i / 10
        red = int(max(0.0, frac - slowstart) / max(1.0 - slowstart, 0.01) * 30)
        lines.append(line(int(round(map_s * frac)), i * 10, red))
    lines.append(line(map_s + reduce_s // 2, 100, 95))
    lines.append(line(map_s + reduce_s, 100, 100))
    return "\n".join(lines) + "\n"


def _monitor_log(rng: np.random.Generator, n_steps: int, base_cpu: float) -> str:
    lines = ["===== Real Performance Monitor Started at bench ====="]
    cpu = base_cpu + rng.normal(0.0, 8.0, size=(n_steps, len(NODES)))
    mem = rng.integers(20, 60, size=(n_steps, len(NODES)))
    for step in range(n_steps):
        lines.append("----")
        for i, node in enumerate(NODES):
            c = float(np.clip(cpu[step, i], 1.0, 99.0))
            lines.append(f"[{node}] CPU: {c:.2f}% | MEM: {int(mem[step, i])}%")
    lines.append("===== Job Finished =====")
    return "\n".join(lines) + "\n"


def make_log_tree(out_dir: str, seed: int) -> dict:
    """Experiment tree in the reference layout: ``<ds>_slowstart_<ss>/
    <run>/{monitor,job_output}.log`` (nested) for the MB datasets and
    one run directly in the config dir (flat) for the G datasets.

    Returns the planted per-run map/reduce durations and the expected
    ``map_s`` and ``total_s`` per config (means over its runs, rounded
    to 2 places as ``stage_summary`` reports them)."""
    rng = np.random.default_rng([seed, 2])
    root = os.path.join(out_dir, "MapReduceLog")
    truth: dict[str, dict] = {}
    base = dt.datetime(2025, 11, 28, 19, 0, 0)
    for d_idx, ds in enumerate(DATASETS):
        for ss in SLOWSTARTS:
            cfg = f"_{ds.lower() if ds.endswith('MB') else ds}_slowstart_{ss}"
            run_ids = [""] if ds in _FLAT else [
                f"2025112{8 + r}_19{r:02d}00" for r in range(RUNS_PER_CONFIG)
            ]
            maps, reduces = [], []
            for r, run_id in enumerate(run_ids):
                map_s = int(rng.integers(60, 240)) * (d_idx + 1)
                reduce_s = int(rng.integers(20, 120)) * (d_idx + 1)
                run_dir = os.path.join(root, cfg, run_id) if run_id else os.path.join(root, cfg)
                os.makedirs(run_dir, exist_ok=True)
                t0 = base + dt.timedelta(hours=d_idx * 10 + r)
                with open(os.path.join(run_dir, "job_output.log"), "w") as fh:
                    fh.write(_progress_log(t0, map_s, reduce_s, ss))
                with open(os.path.join(run_dir, "monitor.log"), "w") as fh:
                    fh.write(_monitor_log(rng, MONITOR_SAMPLES, 30.0 + 10.0 * ss + 5.0 * d_idx))
                maps.append(map_s)
                reduces.append(reduce_s)
            n = len(run_ids)
            truth[f"{ds}|{ss}"] = {
                "runs": n,
                "run_map_s": maps,
                "run_reduce_s": reduces,
                # the map phase ends at the first map-100% record; the
                # job ends reduce_s later. Means of 1 or 3 integers have
                # no half-cent ties, so rounding modes agree.
                "map_s": round(sum(maps) / n, 2),
                "total_s": round((sum(maps) + sum(reduces)) / n, 2),
            }
    return {
        "root": root,
        "datasets": list(DATASETS),
        "slowstarts": list(SLOWSTARTS),
        "runs_per_config": RUNS_PER_CONFIG,
        "samples_per_run": MONITOR_SAMPLES,
        "configs": truth,
    }


# ------------------------------------------------------------- tables

_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
_DOC_WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split(),
    dtype=object,
)
_PART_WORDS = (
    np.array("red new hot small cold large old blue".split(), dtype=object),
    np.array("bolt anvil ring rod plate gear widget".split(), dtype=object),
)


def _write(table_dir: str, name: str, cols: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), os.path.join(table_dir, f"{name}.parquet"))


def _ts(days_from: dt.datetime, seconds: np.ndarray) -> "np.ndarray":
    base = np.datetime64(days_from, "us")
    return base + (seconds * 1e6).astype("timedelta64[us]")


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.004:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.03:  # near duplicate: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 20)):
                words[int(j)] = str(rng.choice(_DOC_WORDS))
            texts.append(" ".join(words))
            continue
        words = list(rng.choice(_DOC_WORDS, size=int(rng.integers(10, 100))))
        words += ["dup"] * int(rng.integers(0, 3) == 0)
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(_LANGS, dtype=object), size=n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def make_tables(out_dir: str, seed: int, sf: float) -> dict:
    """TPC-H-style star schema plus the ``events``, ``documents`` and
    ``embeddings`` tables the query registry reads, one parquet file
    each, with the column names, types and value domains the engine's
    queries expect. Row counts scale with ``sf``."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    counts: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        _write(out_dir, name, cols)
        counts[name] = len(next(iter(cols.values())))

    put("region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            dtype=object), n_cust),
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{a} {b}" for a, b in zip(
                rng.choice(_PART_WORDS[0], n_part), rng.choice(_PART_WORDS[1], n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
            dtype=object), n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    day = 86400.0
    odate = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"], dtype=object), n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), odate * day),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            dtype=object), n_ord),
    })
    lines_per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = okey.size
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"], dtype=object), n_li),
        "l_linestatus": rng.choice(np.array(["F", "O"], dtype=object), n_li),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                          (np.repeat(odate, lines_per) + rng.integers(0, 121, n_li)) * day),
    })
    ev_s = np.sort(rng.uniform(0.0, 30 * day, n_ev))
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(dt.datetime(2024, 1, 1), ev_s),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(np.array(
            ["click", "error", "purchase", "signup", "view"], dtype=object), n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    put("documents", _documents(rng, n_docs))
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_emb).astype(np.int32)
    vec = centers[label] + rng.normal(0.0, 0.8, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label,
    })
    return {"sf": sf, "rows": counts}
