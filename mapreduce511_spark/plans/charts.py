"""Chart preparation + rendering (SURVEY.md §2: O4, P6, P7, S8;
milestone M5). Reference: ``analyze_cpu_slowstart.py:22-38,41-121``
(MEM twin ``analyze_mem_slowstart.py``).

Everything distributed happens upstream (the averaged series is a few
thousand rows); this module is deliberately driver-side on the
collected aggregate, exactly like the reference (SURVEY.md §2.10).
No required plotting deps: spline smoothing is the pure-numpy
not-a-knot solver (functions/spline.py, scipy-parity), and rendering
falls back to a deterministic pure-Python SVG sink when matplotlib is
absent — ``figure_spec`` is the shared contract both renderers draw.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame


def compute_x_limit(max_steps: list[float]) -> int:
    """O4 outlier-aware axis rule (``analyze_cpu_slowstart.py:22-38``):
    if the longest series exceeds 1.1× the second-longest, clamp to
    the second-longest. Input must be sorted ascending."""
    if len(max_steps) < 2:
        return int(max_steps[-1]) if max_steps else 100
    max_val, second = max_steps[-1], max_steps[-2]
    return int(second) if max_val > second * 1.1 else int(max_val)


@dataclass
class Series:
    dataset: str
    slowstart: float
    x: list[float]
    y: list[float]
    smoothed: bool


def prepare_chart_series(series_df: DataFrame, metric: str = "cpu") -> dict[str, list[Series]]:
    """Collect the (tiny) averaged series and apply the reference's
    chart prep per dataset: x-limit rule (O4), truncation (P6), cubic
    spline to 300 points + clip to [0,100] (P7) when >10 points."""
    rows = series_df.collect()
    by_ds: dict[str, dict[float, list[tuple[float, float]]]] = {}
    for r in rows:
        by_ds.setdefault(r["dataset"], {}).setdefault(r["slowstart"], []).append(
            (r["time_step"], r[f"avg_{metric}"])
        )

    out: dict[str, list[Series]] = {}
    for ds, ss_map in by_ds.items():
        max_steps = sorted(max(x for x, _ in pts) for pts in ss_map.values())
        x_limit = compute_x_limit(max_steps)
        out[ds] = []
        for ss in sorted(ss_map):
            pts = sorted(p for p in ss_map[ss] if p[0] <= x_limit)
            if not pts:
                continue
            xs = [p[0] for p in pts]
            ys = [p[1] for p in pts]
            out[ds].append(_smooth(ds, ss, xs, ys))
    return out


def _smooth(ds: str, ss: float, xs: list[float], ys: list[float]) -> Series:
    """P7: cubic-spline 300-pt resample + clip when >10 points — the
    reference's ``make_interp_spline(k=3)`` recipe, reproduced by the
    pure-numpy not-a-knot solver (no scipy needed; values match scipy
    to float round-off, see tests/test_spline.py). ``xs`` must be
    unique and ascending, as every ``averaged_series`` series is."""
    if len(xs) > 10:
        from mapreduce511_spark.functions.spline import smooth_resample

        x_smooth, y_smooth = smooth_resample(xs, ys)
        return Series(ds, ss, x_smooth.tolist(), y_smooth.tolist(), True)
    return Series(ds, ss, xs, ys, False)


SERIES_COLORS = ["#4C72B0", "#DD8452", "#55A868", "#C44E52"]


def figure_spec(
    prepared: dict[str, list[Series]], metric: str = "cpu"
) -> dict[str, dict]:
    """The complete figure description both renderers draw from — one
    dict per dataset with title/axis labels, y-limits, and per-series
    label/color/points. Testable without any plotting library, this is
    the S8 contract: a render is correct iff it draws exactly this
    spec (tests/test_chart_phase_ops.py asserts the spec itself; the
    SVG sink below materializes it deterministically)."""
    out: dict[str, dict] = {}
    for ds, series_list in prepared.items():
        out[ds] = {
            "title": f"{ds} cluster {metric.upper()} (multi-run average)",
            "xlabel": "cycle index",
            "ylabel": f"avg {metric.upper()} (%)",
            "ylim": (0.0, 105.0),
            "series": [
                {
                    "label": f"slowstart={s.slowstart}",
                    "color": SERIES_COLORS[i % len(SERIES_COLORS)],
                    "x": list(s.x),
                    "y": list(s.y),
                    "smoothed": s.smoothed,
                }
                for i, s in enumerate(series_list)
            ],
        }
    return out


def render_charts(
    prepared: dict[str, list[Series]],
    output_dir: str,
    metric: str = "cpu",
) -> list[str]:
    """PNG per dataset (S8) via matplotlib when available, else the
    dependency-free SVG sink — one chart file per dataset is produced
    either way. Shape parity with the reference's
    ``Averaged_*_Charts`` (per-ss lines); pixel parity is a non-goal
    (SURVEY.md §7)."""
    specs = figure_spec(prepared, metric)
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt
    except Exception:
        return render_charts_svg(prepared, output_dir, metric)

    os.makedirs(output_dir, exist_ok=True)
    written = []
    for ds, spec in specs.items():
        plt.figure(figsize=(12, 7), dpi=150)
        for s in spec["series"]:
            plt.plot(s["x"], s["y"], label=s["label"], color=s["color"])
            plt.fill_between(s["x"], s["y"], alpha=0.12, color=s["color"])
        plt.title(spec["title"])
        plt.xlabel(spec["xlabel"])
        plt.ylabel(spec["ylabel"])
        plt.legend()
        plt.ylim(*spec["ylim"])
        path = os.path.join(output_dir, f"averaged_{metric}_{ds}.png")
        plt.savefig(path, bbox_inches="tight")
        plt.close()
        written.append(path)
    return written


_SVG_W, _SVG_H = 960, 560
_MARGIN_L, _MARGIN_R, _MARGIN_T, _MARGIN_B = 70, 30, 50, 60


def render_charts_svg(
    prepared: dict[str, list[Series]],
    output_dir: str,
    metric: str = "cpu",
) -> list[str]:
    """Dependency-free SVG chart sink (S8 proof path): materializes
    ``figure_spec`` as deterministic, byte-stable SVG — axes, ticks,
    one polyline + translucent area fill per slowstart series, legend.
    Good enough to read the same story as the reference's PNGs, and
    runnable in any environment."""
    specs = figure_spec(prepared, metric)
    os.makedirs(output_dir, exist_ok=True)
    plot_w = _SVG_W - _MARGIN_L - _MARGIN_R
    plot_h = _SVG_H - _MARGIN_T - _MARGIN_B
    written = []
    for ds, spec in specs.items():
        xs_all = [x for s in spec["series"] for x in s["x"]]
        if not xs_all:
            continue
        x_min, x_max = min(xs_all), max(xs_all)
        x_span = (x_max - x_min) or 1.0
        y_lo, y_hi = spec["ylim"]

        def sx(x: float) -> float:
            return _MARGIN_L + (x - x_min) / x_span * plot_w

        def sy(y: float) -> float:
            return _MARGIN_T + (y_hi - y) / (y_hi - y_lo) * plot_h

        parts = [
            f'<svg xmlns="http://www.w3.org/2000/svg" width="{_SVG_W}" '
            f'height="{_SVG_H}" viewBox="0 0 {_SVG_W} {_SVG_H}">',
            f'<rect width="{_SVG_W}" height="{_SVG_H}" fill="white"/>',
            f'<text x="{_SVG_W / 2:.1f}" y="28" text-anchor="middle" '
            f'font-size="18" font-family="sans-serif">{spec["title"]}</text>',
            # axes
            f'<line x1="{_MARGIN_L}" y1="{_MARGIN_T}" x2="{_MARGIN_L}" '
            f'y2="{_MARGIN_T + plot_h}" stroke="black"/>',
            f'<line x1="{_MARGIN_L}" y1="{_MARGIN_T + plot_h}" '
            f'x2="{_MARGIN_L + plot_w}" y2="{_MARGIN_T + plot_h}" stroke="black"/>',
            f'<text x="{_MARGIN_L + plot_w / 2:.1f}" y="{_SVG_H - 14}" '
            f'text-anchor="middle" font-size="13" font-family="sans-serif">'
            f'{spec["xlabel"]}</text>',
            f'<text x="18" y="{_MARGIN_T + plot_h / 2:.1f}" text-anchor="middle" '
            f'font-size="13" font-family="sans-serif" '
            f'transform="rotate(-90 18 {_MARGIN_T + plot_h / 2:.1f})">'
            f'{spec["ylabel"]}</text>',
        ]
        for tick in range(0, 101, 20):  # y ticks at 0..100
            ty = sy(float(tick))
            parts.append(
                f'<line x1="{_MARGIN_L - 4}" y1="{ty:.2f}" x2="{_MARGIN_L}" '
                f'y2="{ty:.2f}" stroke="black"/>'
                f'<text x="{_MARGIN_L - 8}" y="{ty + 4:.2f}" text-anchor="end" '
                f'font-size="11" font-family="sans-serif">{tick}</text>'
            )
        n_xticks = 6
        for i in range(n_xticks):
            xv = x_min + x_span * i / (n_xticks - 1)
            tx = sx(xv)
            parts.append(
                f'<line x1="{tx:.2f}" y1="{_MARGIN_T + plot_h}" x2="{tx:.2f}" '
                f'y2="{_MARGIN_T + plot_h + 4}" stroke="black"/>'
                f'<text x="{tx:.2f}" y="{_MARGIN_T + plot_h + 18}" '
                f'text-anchor="middle" font-size="11" font-family="sans-serif">'
                f"{xv:.0f}</text>"
            )
        base_y = sy(y_lo)
        for s in spec["series"]:
            pts = " ".join(
                f"{sx(x):.2f},{sy(min(max(y, y_lo), y_hi)):.2f}"
                for x, y in zip(s["x"], s["y"])
            )
            first_x, last_x = sx(s["x"][0]), sx(s["x"][-1])
            parts.append(
                f'<polygon points="{first_x:.2f},{base_y:.2f} {pts} '
                f'{last_x:.2f},{base_y:.2f}" fill="{s["color"]}" '
                'fill-opacity="0.12" stroke="none"/>'
            )
            parts.append(
                f'<polyline points="{pts}" fill="none" stroke="{s["color"]}" '
                'stroke-width="2"/>'
            )
        for i, s in enumerate(spec["series"]):  # legend
            ly = _MARGIN_T + 12 + i * 18
            lx = _MARGIN_L + plot_w - 150
            parts.append(
                f'<line x1="{lx}" y1="{ly}" x2="{lx + 24}" y2="{ly}" '
                f'stroke="{s["color"]}" stroke-width="2"/>'
                f'<text x="{lx + 30}" y="{ly + 4}" font-size="12" '
                f'font-family="sans-serif">{s["label"]}</text>'
            )
        parts.append("</svg>")
        path = os.path.join(output_dir, f"averaged_{metric}_{ds}.svg")
        with open(path, "w") as fh:
            fh.write("\n".join(parts))
        written.append(path)
    return written


def truncated_series(series_df: DataFrame, metric: str = "cpu") -> DataFrame:
    """Distributed twin of the O4+P6 chart prep: per-dataset x-axis
    limit via the outlier-aware second-max rule, then truncation —
    as DataFrame ops (the driver-side ``prepare_chart_series`` stays
    for spline rendering; this feeds sinks/joins at scale).

    Shape: per-series maxes (tiny) aggregate per dataset into the
    limit, broadcast back onto the series rows."""
    from pyspark.sql import functions as F

    maxes = series_df.groupBy("dataset", "slowstart").agg(
        F.max("time_step").alias("mx")
    )
    arr = F.reverse(F.array_sort(F.collect_list("mx")))
    limits = maxes.groupBy("dataset").agg(
        F.when(
            (F.size(arr) > 1) & (arr[0] > arr[1] * 1.1), arr[1]
        )
        .otherwise(arr[0])
        .cast("int")
        .alias("x_limit")
    )
    return series_df.join(F.broadcast(limits), "dataset").filter(
        F.col("time_step") <= F.col("x_limit")
    )


SMOOTH_SCHEMA = (
    "dataset string, slowstart double, x double, y double, smoothed boolean"
)


def smooth_series_distributed(series_df: DataFrame, metric: str = "cpu") -> DataFrame:
    """Distributed smoothing (SURVEY §2.10): one grouped-map
    ``applyInPandas`` per (dataset, slowstart) series, running the
    same pure-numpy not-a-knot spline as the driver path (P7 parity,
    no scipy). Each group is one chart series (<= a few thousand
    points), so group memory is trivial; the win over the driver path
    is N series smoothed in parallel with no collect."""
    import pandas as pd

    value_col = f"avg_{metric}"

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("time_step")
        xs = pdf["time_step"].to_numpy(dtype=float)
        ys = pdf[value_col].to_numpy(dtype=float)
        ds, ss = pdf["dataset"].iloc[0], float(pdf["slowstart"].iloc[0])
        s = _smooth(ds, ss, xs, ys)
        return pd.DataFrame(
            {"dataset": s.dataset, "slowstart": s.slowstart, "x": s.x,
             "y": s.y, "smoothed": s.smoothed}
        )

    return series_df.groupBy("dataset", "slowstart").applyInPandas(
        smooth, schema=SMOOTH_SCHEMA
    )
