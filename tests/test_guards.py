"""Unit tests for round-3 guard/helper functions: the parquet nanos
footer detector and the half-away-from-zero rounding helper."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreduce511_spark.operators.ann import _round_half_away
from mapreduce511_spark.sources.tables import assert_no_nanos_columns


def test_round_half_away_matches_sql_round_on_midpoints():
    # np.round would give 0.1234 for 0.12345 (half-to-even); SQL/DuckDB
    # round half away from zero gives 0.1235
    vals = np.array([0.12345, -0.12345, 0.12355, 1.00005])
    got = _round_half_away(vals, 4)
    assert got.tolist() == [0.1235, -0.1235, 0.1236, 1.0001]
    # sanity: differs from banker's rounding exactly where expected
    # (0.12345 * 1e4 is exactly 1234.5; half-to-even rounds DOWN to
    # the even 1234, half-away rounds UP)
    assert np.round(0.12345, 4) == 0.1234  # numpy half-to-even artifact


def test_round_half_away_non_midpoints_agree_with_np_round():
    rng = np.random.default_rng(7)
    vals = rng.uniform(-1, 1, 1000)
    # away-from-midpoint values round identically under either mode
    safe = vals[np.abs((vals * 1e4) % 1 - 0.5) > 1e-6]
    assert np.allclose(_round_half_away(safe, 4), np.round(safe, 4))


def test_nanos_footer_guard_accepts_micros_and_int96(tmp_path):
    import pandas as pd

    # micros file (what engine artifacts should contain)
    t = pa.table(
        {"ts": pa.array(pd.date_range("2024-01-01", periods=3, freq="s")).cast(
            pa.timestamp("us")
        )}
    )
    p = str(tmp_path / "us.parquet")
    pq.write_table(t, p)
    assert_no_nanos_columns(p)  # must not raise

    # INT96 (Spark's default writer output) also maps to arrow ns but
    # reads back fine — the guard must not flag it
    p96 = str(tmp_path / "int96.parquet")
    t96 = pa.table(
        {"ts": pa.array(pd.date_range("2024-01-01", periods=3, freq="s"))}
    )
    pq.write_table(t96, p96, use_deprecated_int96_timestamps=True)
    assert_no_nanos_columns(p96)  # must not raise


def test_nanos_footer_guard_rejects_int64_nanos(tmp_path):
    import pandas as pd

    t = pa.table(
        {"ts": pa.array(pd.date_range("2024-01-01", periods=3, freq="s"))}
    )  # defaults to timestamp[ns] -> INT64 TIMESTAMP(NANOS)
    p = str(tmp_path / "ns.parquet")
    pq.write_table(t, p, coerce_timestamps=None, store_schema=False)
    with pytest.raises(TypeError, match="nanos"):
        assert_no_nanos_columns(p)


def test_nanos_footer_guard_walks_directories(tmp_path):
    import pandas as pd

    sub = tmp_path / "part=0"
    sub.mkdir()
    t = pa.table(
        {"ts": pa.array(pd.date_range("2024-01-01", periods=3, freq="s"))}
    )
    pq.write_table(t, str(sub / "f.parquet"), coerce_timestamps=None, store_schema=False)
    with pytest.raises(TypeError, match="nanos"):
        assert_no_nanos_columns(str(tmp_path))


def test_bench_headline_names_resolve():
    """Every bench HEADLINE name must exist in the registry (bench
    silently skips unknown names, so a typo would quietly drop a
    benchmark) and appear exactly once."""
    import bench
    from mapreduce511_spark import queries as suite

    names = bench.HEADLINE
    assert len(names) == len(set(names))
    registry = suite.all_queries()
    missing = [n for n in names if n not in registry]
    assert not missing, missing


def test_register_rejects_duplicate_names():
    """The registry must fail loudly on a duplicate query name —
    silent dict shadowing already bit once."""
    from mapreduce511_spark import queries as suite

    suite.all_queries()  # ensure modules loaded
    with pytest.raises(ValueError, match="already registered"):
        @suite.register("wordcount")
        def _dup(spark, sf_dir):  # pragma: no cover
            raise AssertionError


def test_driver_sample_window_is_exactly_50_known_names():
    """The correctness driver samples the FIRST 50 registry entries
    each round; _ENUMERATE_FIRST is that window. It must hold exactly
    50 names, every one registered — a typo'd or stale name silently
    shrinks driver coverage (the ordered dict just skips it)."""
    from mapreduce511_spark import queries as suite

    q = suite.all_queries()
    window = suite._ENUMERATE_FIRST
    assert len(window) == 50, len(window)
    missing = [n for n in window if n not in q]
    assert not missing, missing
    assert len(set(window)) == 50, "duplicate names in the window"
    # and the ordering actually front-loads them
    assert list(q)[:50] == window


def test_bench_canary_is_frozen_and_registered():
    """bench.py's _CANARY is the self-adjudicating round-over-round
    comparator (r6 VERDICT item 4): exactly 20 names, every one
    registered — a rename that forgets the canary would KeyError the
    whole bench, and an accidental add/remove would silently break
    round comparability."""
    import bench
    from mapreduce511_spark import queries as suite

    q = suite.all_queries()
    assert len(bench._CANARY) == 20
    assert len(set(bench._CANARY)) == 20
    missing = [n for n in bench._CANARY if n not in q]
    assert not missing, missing


_UNBOUNDED_MARKERS = (
    "UNBOUNDED",
    "uncapped",
    "quadratic by construction",
)


def test_no_plain_name_steers_to_unbounded_candidates():
    """r8 (r7 VERDICT item 1) — mechanical registry-steering rule:
    when a scale-safe ``_capped``/``_blocked`` sibling exists, the
    plain-named query must not be the one whose docstring declares an
    unbounded candidate stage. The plain name is what a user reaches
    for first; the deliberately-definitional variant carries the
    ``_exact_spec`` suffix (the ``embedding_near_dup`` /
    ``tfidf_cosine_pairs`` precedents)."""
    from mapreduce511_spark.queries import all_queries

    qs = all_queries()
    offenders = []
    for name, fn in qs.items():
        if name.endswith("_exact_spec"):
            continue  # honestly suffixed: allowed to be definitional
        has_scale_sibling = any(
            name + suf in qs for suf in ("_capped", "_blocked")
        )
        if not has_scale_sibling:
            continue
        doc = fn.__doc__ or ""
        if any(m in doc for m in _UNBOUNDED_MARKERS):
            offenders.append(name)
    assert not offenders, (
        f"plain-named queries declaring an unbounded candidate stage "
        f"while a capped/blocked sibling exists: {offenders} — rename "
        f"to <name>_exact_spec and make the capped sibling the "
        f"recommended entry"
    )
    # the rule has teeth: the suffixed spec queries DO carry the
    # marker (i.e. the historical offenders would have been caught)
    spec = qs["tfidf_cosine_pairs_exact_spec"].__doc__ or ""
    assert any(m in spec for m in _UNBOUNDED_MARKERS)


def test_exact_spec_declarations_carry_the_suffix():
    """Any query whose docstring declares itself 'EXACT SPEC' /
    'EXACT SMALL-N SPEC' (the capital-letters self-declaration the
    spec-tier queries use) must be registered under a name ending in
    ``_exact_spec`` — so bench's spec-tier breakout and the steering
    rule above can key on the NAME alone."""
    from mapreduce511_spark.queries import all_queries

    offenders = [
        n
        for n, fn in all_queries().items()
        if "EXACT SPEC" in (fn.__doc__ or "")
        or "EXACT SMALL-N SPEC" in (fn.__doc__ or "")
        if not n.endswith("_exact_spec")
    ]
    assert not offenders, offenders


def test_new_queries_front_load_the_driver_window():
    """r8 (r7 VERDICT item 10): every registered query with NO driver
    row in ANY prior round's CORRECTNESS ledger (i.e. new or renamed
    this round) MUST appear in `_ENUMERATE_FIRST`, mechanically
    enforcing 'driver-checked in its debut round'. Regenerate the
    window with `python tools/gen_enum_first.py` when this fails."""
    import glob
    import json

    from mapreduce511_spark.queries import _ENUMERATE_FIRST, all_queries

    seen: set[str] = set()
    for f in sorted(glob.glob("CORRECTNESS_r*.json")):
        seen.update(json.load(open(f)))
    assert seen, "ledger files must be visible from the repo root"
    missing = [
        n
        for n in all_queries()
        if n not in seen and n not in _ENUMERATE_FIRST
    ]
    assert not missing, (
        f"queries debuting this round are outside the driver window: "
        f"{missing}"
    )


def test_enum_first_matches_generator_policy():
    """The checked-in window IS the generator's output (no hand drift):
    exactly the never-checked names first, then oldest-first
    staleness, 50 names total.

    r9 (VERDICT r8 item 1): recomputation honors the stamped ledger
    horizon `_WINDOW_LEDGER_MAX` — the driver drops a new
    CORRECTNESS_r{N}.json AFTER the builder's session, and a guard
    that re-derived the window from every file on disk went red after
    every driver run even though the checked-in window was correct
    when generated.  compute_window() defaults to the stamp, so this
    test stays green across the driver's artifact drop; regenerating
    the window (--restamp) must bump the stamp too, which this test
    then re-verifies."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path("tools").resolve().parent))
    from mapreduce511_spark.queries import _ENUMERATE_FIRST
    from tools.gen_enum_first import compute_window

    assert [n for n, _ in compute_window()] == list(_ENUMERATE_FIRST)


def test_window_guard_is_idempotent_across_driver_drop(tmp_path):
    """The exact failure mode of r8: the driver writes
    CORRECTNESS_r{N+1}.json into the repo after the window was
    generated.  Simulate that drop in a copy of the repo root's
    ledger and assert the stamped recomputation is UNCHANGED — the
    guard above must not flip red at the end of a round."""
    import json
    import shutil
    import sys
    from pathlib import Path
    from unittest import mock

    sys.path.insert(0, str(Path("tools").resolve().parent))
    import tools.gen_enum_first as gen
    from mapreduce511_spark.queries import _WINDOW_LEDGER_MAX

    for f in Path(gen.REPO).glob("CORRECTNESS_r*.json"):
        shutil.copy(f, tmp_path / f.name)
    before = gen.compute_window()
    # a future driver drop: every current window name goes green in a
    # round past the stamp
    fake = {name: {"hash_match": True} for name, _ in before}
    nxt = tmp_path / f"CORRECTNESS_r{_WINDOW_LEDGER_MAX + 1:02d}.json"
    nxt.write_text(json.dumps(fake))
    with mock.patch.object(gen, "REPO", str(tmp_path)):
        after = gen.compute_window()
    assert after == before
    # and WITHOUT the stamp the drop genuinely rotates the window —
    # i.e. the horizon is what carries the idempotence
    with mock.patch.object(gen, "REPO", str(tmp_path)):
        unstamped = gen.compute_window(ledger_max=None)
    assert unstamped != before


def test_bench_derived_steadies_are_min_of_3():
    """r9 (VERDICT r8 item 6): the derived headline steadies
    (`wordcount_steady_s`, `wordcount_skewed_steady_s`) must come
    from the min-of-3 helper, not single shots — r8's single-shot
    measurement whipsawed 0.45 -> 1.068 s on a hypervisor stall and
    produced a false regression alarm. AST-audit bench.main: both
    assignments call _min3, and _min3 loops exactly range(3)."""
    import ast
    from pathlib import Path

    tree = ast.parse(Path("bench.py").read_text())
    main = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "main"
    )
    assigns = {}
    min3 = None
    for node in ast.walk(main):
        if isinstance(node, ast.FunctionDef) and node.name == "_min3":
            min3 = node
        if isinstance(node, ast.Assign) and len(node.targets) == 1:
            t = node.targets[0]
            if isinstance(t, ast.Name) and t.id in ("steady", "skew_steady"):
                assigns[t.id] = node.value
    assert min3 is not None, "bench.main lost its _min3 helper"
    reps = [
        n.args[0].value
        for n in ast.walk(min3)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Name)
        and n.func.id == "range"
    ]
    assert reps == [3], reps
    for key in ("steady", "skew_steady"):
        v = assigns.get(key)
        assert (
            isinstance(v, ast.Call)
            and isinstance(v.func, ast.Name)
            and v.func.id == "_min3"
        ), f"{key} is not a _min3 measurement"


def test_mkdtemp_only_in_the_two_dir_owners():
    """Temp dirs have two owners: the per-run
    ``streaming_queries._scratch_run`` (removed when the run ends) and
    the process-lifetime ``memo.owned_tmpdir`` (removed at exit). A
    ``mkdtemp`` anywhere else in the package is a dir nobody removes."""
    import ast
    from pathlib import Path

    from tests.conftest import REPO

    found = set()

    class Finder(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel, self.stack = rel, []

        def visit_FunctionDef(self, node):
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def _hit(self):
            found.add((self.rel, self.stack[-1] if self.stack else None))

        def visit_Attribute(self, node):
            if node.attr == "mkdtemp":
                self._hit()
            self.generic_visit(node)

        def visit_Name(self, node):
            if node.id == "mkdtemp":
                self._hit()

        def visit_ImportFrom(self, node):
            if any(a.name == "mkdtemp" for a in node.names):
                self._hit()

    pkg = Path(REPO) / "mapreduce511_spark"
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(REPO).as_posix()
        Finder(rel).visit(ast.parse(f.read_text()))
    assert found == {
        ("mapreduce511_spark/memo.py", "owned_tmpdir"),
        ("mapreduce511_spark/queries/streaming_queries.py", "_scratch_run"),
    }


# Text that states a closed form (tokenizer, dHash cell, video frame
# cell, JPEG block pixel) or defines a shared oracle constant.
_ORACLE_ANCHORS = (
    "string_split_regex(text",
    "THEN (((base + 1) * (cx + 9 * cy + 1) * {DHASH_MIX}",
    "((key + 1) * (cx + 9 * cy + 1) * {DHASH_MIX}",
    "(bi % wb) * {JPEG_PX_BX}",
    "_SQL_TOKENS =",
    "_JACCARD_T =",
)


def test_oracle_closed_forms_are_written_once():
    """Each oracle closed form is written on exactly one source line
    under ``queries/`` (``queries/oracle_sql.py`` holds the forms more
    than one module states), so no copy can drift from the others. The
    Python generators in ``multimodal/__init__.py`` restate the fixture
    formulas on purpose — they are the independent spec the oracles are
    checked against — and sit outside the scanned tree."""
    from pathlib import Path

    from tests.conftest import REPO

    hits = {a: [] for a in _ORACLE_ANCHORS}
    for f in sorted((Path(REPO) / "mapreduce511_spark" / "queries").glob("*.py")):
        for n, line in enumerate(f.read_text().splitlines(), 1):
            for a in _ORACLE_ANCHORS:
                if a in line:
                    hits[a].append(f"{f.name}:{n}")
    assert {a: len(h) for a, h in hits.items()} == dict.fromkeys(
        _ORACLE_ANCHORS, 1
    ), hits


def test_tokenizer_is_written_once():
    """``functions/text.py::tokenize`` is the package's one tokenizer: a
    compiled ``split`` + ``array_remove`` over StringTokenizer's delimiters.
    Elsewhere under ``mapreduce511_spark/`` no ``split`` or ``regexp_replace``
    call may take a whitespace-class pattern and no string may restate the
    delimiter class, so a hand-inlined (and interpreted) split-then-filter
    cannot return, and no query strips or collapses Java's ``\\s`` (which
    adds U+000B to the oracles' class) in place of ``normalize_text`` or
    ``glyph_count``."""
    import ast
    import re
    from pathlib import Path

    from tests.conftest import REPO

    # a \s escape or a bracket class holding whitespace; splitting an
    # array_join-ed phrase on its one " " separator is not tokenizing
    ws_pattern = re.compile(r"\\s|\[[^]]*\s")
    delims = (" \\t\\n\\r\\f", " \t\n\r\f")
    found = []
    pkg = Path(REPO) / "mapreduce511_spark"
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(REPO).as_posix()
        if rel == "mapreduce511_spark/functions/text.py":
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Call):
                name = getattr(node.func, "attr", getattr(node.func, "id", None))
                args = node.args[1:2]
                args += [k.value for k in node.keywords if k.arg == "pattern"]
                pat = args[0] if name in ("split", "regexp_replace") and args else None
                if isinstance(pat, ast.Constant) and ws_pattern.search(f"{pat.value}"):
                    found.append((rel, node.lineno, name))
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if any(d in node.value for d in delims):
                    found.append((rel, node.lineno, "delimiter class"))
    assert found == []


def test_bit_io_is_written_once():
    """The codecs' bit packing lives in ``multimodal/bitio.py``. Elsewhere
    under ``multimodal/`` no class may keep a bit accumulator (assign
    ``self.nbits`` or ``self.bitbuf``), so a hand-copied reader or writer
    cannot return. ``jpeg_arith.py``'s Annex D byte I/O (carry propagation,
    zero fill past the end) is the one exception."""
    import ast
    from pathlib import Path

    from tests.conftest import REPO

    found = []
    pkg = Path(REPO) / "mapreduce511_spark" / "multimodal"
    for f in sorted(pkg.glob("*.py")):
        if f.name in ("bitio.py", "jpeg_arith.py"):
            continue
        for cls in ast.walk(ast.parse(f.read_text())):
            if not isinstance(cls, ast.ClassDef):
                continue
            for node in ast.walk(cls):
                if (
                    isinstance(node, ast.Attribute)
                    and isinstance(node.ctx, ast.Store)
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "self"
                    and node.attr in ("nbits", "bitbuf")
                ):
                    found.append((f.name, cls.name, node.lineno))
    assert found == []


def test_index_lifecycle_is_written_once():
    """``operators/ann.py::ensure_index`` owns the build-once lifecycle
    of the content-keyed index artifacts (session cache, path, reuse
    check, build, sidecar published last, keep-latest retention). No
    other module may touch the cache or the path and retention-group
    helpers, and only the suffix-array artifact (stat-keyed, memoizes
    checkpointed frames) may use the sidecar primitives directly."""
    import ast
    from pathlib import Path

    from tests.conftest import REPO

    ann_only = {"_INDEX_CACHE", "_index_path", "artifact_source", "legacy_source"}
    sidecar = {"load_model_sidecar", "write_model_sidecar", "retain_latest_artifact"}
    found = []
    pkg = Path(REPO) / "mapreduce511_spark"
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(pkg).as_posix()
        if rel == "operators/ann.py":
            continue
        used = {
            getattr(node, "id", None) or getattr(node, "attr", None)
            or node.name
            for node in ast.walk(ast.parse(f.read_text()))
            if isinstance(node, (ast.Name, ast.Attribute, ast.alias))
        }
        allowed = set() if rel != "queries/suffix.py" else sidecar
        found += [(rel, n) for n in sorted(used & (ann_only | sidecar) - allowed)]
    assert found == []


def test_file_scheme_is_stripped_once():
    """``memo.local_path`` is the one ``file:`` -> local-path rule; a
    ``len("file:")`` slice anywhere else in the package is a copy."""
    import ast
    from pathlib import Path

    from tests.conftest import REPO

    found = []
    pkg = Path(REPO) / "mapreduce511_spark"
    for f in sorted(pkg.rglob("*.py")):
        if f.relative_to(pkg).as_posix() == "memo.py":
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", None) == "len"
                and [getattr(a, "value", None) for a in node.args] == ["file:"]
            ):
                found.append((f.name, node.lineno))
    assert found == []


def test_ann_search_is_written_once():
    """The ANN family's ranking policy lives in four helpers:
    ``operators/ann.py::nearest_cells`` (probe cells by cosine, ties to
    the lower cell), ``exact_topk`` (exact cosine, ties to the lower
    vec_id, rounded), ``adc_shortlist`` (the ADC re-rank pool) and
    ``queries/similarity.py::_bitext_margin`` (the top-4 ratio margin).
    Under ``mapreduce511_spark/`` each of their windows, and the margin's
    4th pivot column, is written exactly once, so no search can restate
    (and drift from) the policy. Tests and ``bench.py`` keep their own
    exact references on purpose and sit outside the scanned tree."""
    import ast
    from pathlib import Path

    from tests.conftest import REPO

    anchors = {
        "orderBy(F.desc('s'), F.asc('vec_id'))": [],
        "orderBy(F.desc('csim'), F.asc('cell'))": [],
        "orderBy(F.desc('adc'), F.asc('vec_id'))": [],
        "F.col('rn') == 4": [],
    }
    pkg = Path(REPO) / "mapreduce511_spark"
    for f in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "orderBy":
                text = "orderBy(" + ", ".join(ast.unparse(a) for a in node.args) + ")"
            elif isinstance(node, ast.Compare):
                text = ast.unparse(node)
            else:
                continue
            if text in anchors:
                anchors[text].append(f"{f.relative_to(pkg).as_posix()}:{node.lineno}")
    assert {a: len(h) for a, h in anchors.items()} == dict.fromkeys(anchors, 1), anchors


def test_spark_rules_are_written_once():
    """Each shared query rule has one DataFrame definition under
    ``mapreduce511_spark/``, next to the oracle form that pins it: the
    quality features and logit (``queries/text.py::_quality_features``,
    ``_quality_logit``), the rolling span hash and its oracle form
    (``_span_hashes``, ``_SQL_SPAN_HASH``), the island merge
    (``_span_removal``), the held-out perplexity tail (``_ppl_by_lang``),
    the TF-IDF weights and cosine gate (``queries/similarity.py::
    _tfidf_weights``, ``_tfidf_top20``), the 64-bit Hamming distance and
    banded gates (``multimodal/__init__.py::hamming64``,
    ``near_indexed``; ``queries/multimodal.py::_hamming_pairs``), the
    semantic-dedup assignment and census (``_nearest_centroid``,
    ``_sem_census``), the window counts (``streaming::window_counts``)
    and the click-purchase interval join (``streaming::_click_purchase``).
    Each anchor below is one line of such a rule, matched with all
    whitespace removed; a second hit is a copy that can drift."""
    import re
    from pathlib import Path

    from tests.conftest import REPO

    literal = [
        'F.regexp_replace("text", "[^A-Z]", "")',
        "F.when(wordlen_ok, 500)",
        "F.lit(36028797018963968)",
        "% 36028797018963968) * 32",
        'withColumn("new_island"',
        "1_000_000.0 * n_val",
        '"100 * CAST(dot AS DECIMAL(38,0)) * dot"',
        '.repartition(n_pair_parts, "g")',
        '(F.col("x.band") == F.col("y.band"))',
        '(F.col("band") == F.col("iband"))',
        'F.max_by(F.struct("cid", "embedding", "nrm")',
        'countDistinct("ib")',
        'F.col("w.start").alias("window_start"), "event_type", "n_events",'
        ' "total_value"',
        'alias("purchase_value")',
    ]
    anchors = {a: re.escape(re.sub(r"\s+", "", a)) for a in literal}
    # the Hamming distance of two (lo, hi) fingerprints, whatever the
    # column names
    hamming = r"F\.bit_count\(F\.col\([^()]*\)\.bitwiseXOR\(F\.col\([^()]*\)\)\)\+F\.bit_count\("
    anchors["bit_count(lo ^ lo) + bit_count(hi ^ hi)"] = hamming
    pkg = Path(REPO) / "mapreduce511_spark"
    hits = {a: [] for a in anchors}
    for f in sorted(pkg.rglob("*.py")):
        text = re.sub(r"\s+", "", f.read_text())
        for a, pattern in anchors.items():
            hits[a] += [f.relative_to(pkg).as_posix()] * len(re.findall(pattern, text))
    assert {a: len(h) for a, h in hits.items()} == dict.fromkeys(anchors, 1), hits
