"""Count oracle source lines that repeat text another oracle already
wrote — the check that each closed form is stated once.

Sources: every ``oracle=`` keyword value and every ``*ORACLE*``
assignment under ``mapreduce511_spark/``, plus every string or
f-string in ``queries/oracle_sql.py``, taken in (file, line) order.
Each source line is stripped. A line is covered when it lies in a
4-line window whose lines are all longer than 3 characters and which
already occurred in an earlier source. Prints the covered-line count
and every run of at least ``--min-run`` covered lines with the source
it repeats.

    python tools/oracle_dup_scan.py [--min-run 8]
"""

from __future__ import annotations

import argparse
import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
WINDOW = 4


def oracle_sources(repo: Path) -> list[tuple[str, int, str]]:
    """(file, line, source text) of every oracle source, in order."""
    found = {}
    for f in sorted((repo / "mapreduce511_spark").rglob("*.py")):
        src = f.read_text()
        rel = f.relative_to(repo).as_posix()
        nodes = []
        for n in ast.walk(ast.parse(src)):
            if isinstance(n, ast.keyword) and n.arg == "oracle":
                nodes.append(n.value)
            elif isinstance(n, ast.Assign) and any(
                isinstance(t, ast.Name) and "ORACLE" in t.id for t in n.targets
            ):
                nodes.append(n.value)
            elif f.name == "oracle_sql.py" and (
                isinstance(n, ast.JoinedStr)
                or (isinstance(n, ast.Constant) and isinstance(n.value, str))
            ):
                nodes.append(n)
        inner = {
            id(c)
            for n in nodes
            if isinstance(n, ast.JoinedStr)
            for c in ast.walk(n)
            if c is not n
        }
        for n in nodes:
            if id(n) not in inner:
                key = (rel, n.lineno, n.col_offset)
                found[key] = ast.get_source_segment(src, n)
    return [(rel, line, text) for (rel, line, _), text in sorted(found.items())]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--min-run", type=int, default=8)
    args = ap.parse_args()

    seen: dict[tuple[str, ...], str] = {}
    covered = total = 0
    runs = []
    for rel, line, text in oracle_sources(REPO):
        lines = [x.strip() for x in text.splitlines()]
        total += len(lines)
        wins = {
            i: tuple(lines[i : i + WINDOW])
            for i in range(len(lines) - WINDOW + 1)
            if all(len(x) > 3 for x in lines[i : i + WINDOW])
        }
        prior = {i: seen[w] for i, w in wins.items() if w in seen}
        cov = [False] * len(lines)
        for i in prior:
            cov[i : i + WINDOW] = [True] * WINDOW
        for w in wins.values():
            seen.setdefault(w, f"{rel}:{line}")
        covered += sum(cov)
        i = 0
        while i < len(cov):
            j = i
            while j < len(cov) and cov[j]:
                j += 1
            if j - i >= args.min_run:
                first = next(prior[k] for k in range(i, j) if k in prior)
                runs.append(f"{j - i:4d}  {rel}:{line + i}  repeats {first}")
            i = max(j, i + 1)
    print(f"{total} oracle source lines, {covered} repeat an earlier oracle")
    print(f"runs of >= {args.min_run} repeated lines: {len(runs)}")
    for r in runs:
        print(r)


if __name__ == "__main__":
    main()
