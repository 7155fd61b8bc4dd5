"""Full twin of the reference's Streamlit dashboard
(/root/reference/streamlit_app/dashboard.py, 669 lines): the same four data
loads (dashboard.py:36-186), the sidebar date filter (dashboard.py:192-228),
the period-summary KPI row (dashboard.py:281-302), and all four tabs
(dashboard.py:308 — "Evolução Temporal", "Distribuição por Categoria",
"Confiança do Modelo", "Manchetes Recentes") rendered section by section.

The text display is tables-as-text; the --html export additionally renders
each chart-backed section as dependency-free SVG (tools/svgcharts.py — the
container has no plotly) bound to the SAME collected rows the table shows:
every number comes from the DISTRIBUTED operators in
airdatapipeline_spark.operators.{analytics,gold}, identical to what a
Streamlit/plotly front-end would bind, and every transform is
oracle-checked via the a8-a19/t3 registry queries.

Section ↔ reference chart map:
  period summary          ← st.columns KPI row      (dashboard.py:281-302)
  daily sentiment         ← px.line temporal        (dashboard.py:332-350)
  sentiment % area        ← px.area distribution    (dashboard.py:353-371)
  category totals         ← px.bar categories       (dashboard.py:382-395)
  category over time      ← px.line per category    (dashboard.py:417-430)
  date×category heatmap   ← px.imshow pivot         (dashboard.py:446-456)
  confidence by sentiment ← px.line confidence      (dashboard.py:469-483)
  confidence histogram    ← go.Histogram            (dashboard.py:513-532)
  recent headlines        ← st.dataframe            (dashboard.py:560-...)

Usage: python tools/dashboard.py [sf_dir] [--start YYYY-MM-DD] [--end YYYY-MM-DD]
                                 [--html OUT.html]
"""

from __future__ import annotations

import argparse
import html as _html
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.3f}".rstrip("0").rstrip(".")
    return "" if v is None else str(v)


def _pivot_long(rows: list[dict], x: str, series: str, y: str, fill=None):
    """Long rows → (x_labels, {series_name: y values aligned to labels})."""
    labels = sorted({str(r[x]) for r in rows})
    out: dict[str, list] = {}
    for name in sorted({str(r[series]) for r in rows}):
        by_x = {
            str(r[x]): float(r[y])
            for r in rows
            if str(r[series]) == name and r[y] is not None
        }
        out[name] = [by_x.get(lab, fill) for lab in labels]
    return labels, out


def _chart_svg(title: str, spec: dict, rows: list[dict]) -> str:
    """Bind one section's collected rows to its mapped svgcharts helper
    (the px.line/px.area/px.bar/px.imshow/go.Histogram twin — see
    tools/svgcharts.py docstring for the reference chart map)."""
    from tools import svgcharts

    kind = spec["kind"]
    if kind in ("line", "area"):  # wide: each y column is a series
        rs = sorted(rows, key=lambda r: str(r[spec["x"]]))
        labels = [str(r[spec["x"]]) for r in rs]
        series = {
            y: [None if r[y] is None else float(r[y]) for r in rs]
            for y in spec["ys"]
        }
        fn = svgcharts.line_chart if kind == "line" else svgcharts.area_chart
        return fn(title, labels, series)
    if kind in ("line_by", "area_by"):  # long: one series per key value
        fill = 0.0 if kind == "area_by" else None
        labels, series = _pivot_long(rows, spec["x"], spec["series"], spec["y"], fill)
        fn = svgcharts.area_chart if kind == "area_by" else svgcharts.line_chart
        return fn(title, labels, series)
    if kind == "bar":
        xs = spec["x"] if isinstance(spec["x"], (list, tuple)) else [spec["x"]]
        items = [
            (":".join(str(r[c]) for c in xs), float(r[spec["y"]])) for r in rows
        ]
        return svgcharts.bar_chart(title, items)
    if kind == "heatmap":
        rs = sorted(rows, key=lambda r: str(r[spec["row"]]))
        cols = [c for c in rs[0] if c != spec["row"]]
        return svgcharts.heatmap(
            title,
            [str(r[spec["row"]]) for r in rs],
            cols,
            [[None if r[c] is None else float(r[c]) for c in cols] for r in rs],
        )
    raise ValueError(f"unknown chart kind {kind!r}")


class Renderer:
    """Collects (title, columns, rows, svg) sections; emits text and/or
    HTML. `chart=` maps a section to its reference plotly chart type and
    renders the collected rows as inline SVG in the HTML export."""

    def __init__(self) -> None:
        self.sections: list[tuple[str, list[str], list[list[str]], str | None]] = []

    def add(self, title: str, df, limit: int = 12, order_by=(), desc: bool = False,
            chart: dict | None = None):
        """`order_by` must be a total order on the rows, or the rows shown
        (and their order) depend on the partitioning: `desc` applies to
        its first column, the rest break ties ascending."""
        if order_by:
            first, *rest = order_by
            d = df.orderBy(df[first].desc() if desc else df[first].asc(), *rest)
        else:
            d = df
        raw = [r.asDict() for r in d.limit(limit).collect()]
        cols = df.columns
        svg = _chart_svg(title, chart, raw) if chart and raw else None
        self.sections.append(
            (title, cols, [[_fmt(r[c]) for c in cols] for r in raw], svg)
        )

    def text(self) -> str:
        out = []
        for title, cols, rows, _svg in self.sections:
            out.append("")
            out.append(f"== {title} ==")
            widths = [
                max(len(c), *(len(r[i]) for r in rows)) if rows else len(c)
                for i, c in enumerate(cols)
            ]
            out.append("  ".join(c.ljust(w) for c, w in zip(cols, widths)))
            for r in rows:
                out.append("  ".join(v.ljust(w) for v, w in zip(r, widths)))
        return "\n".join(out)

    def html(self) -> str:
        parts = [
            "<!doctype html><meta charset='utf-8'>",
            "<title>G1 Headlines — Sentiment Dashboard (PySpark)</title>",
            "<style>body{font-family:monospace;margin:2em}table{border-collapse:"
            "collapse;margin-bottom:1.5em}td,th{border:1px solid #999;padding:"
            "2px 8px;text-align:left}</style>",
            "<h1>G1 Headlines — Sentiment Dashboard (engine: PySpark)</h1>",
        ]
        for title, cols, rows, svg in self.sections:
            parts.append(f"<h2>{_html.escape(title)}</h2>")
            if svg:
                parts.append(svg)
            parts.append("<table><tr>")
            parts.extend(f"<th>{_html.escape(c)}</th>" for c in cols)
            parts.append("</tr>")
            for r in rows:
                parts.append(
                    "<tr>" + "".join(f"<td>{_html.escape(v)}</td>" for v in r) + "</tr>"
                )
            parts.append("</table>")
        return "".join(parts)


def build_sections(spark, sf_dir: str, start: str | None, end: str | None) -> Renderer:
    from airdatapipeline_spark import model
    from airdatapipeline_spark.operators import analytics, gold

    silver = model.silver_enriched(spark, sf_dir)
    stg = model.stg_enriched_headlines(silver).cache()
    gold_s = gold.daily_sentiment_analysis(stg)
    gold_c = gold.daily_category_analysis(stg)
    if start and end:  # sidebar date filter (dashboard.py:192-228)
        gold_s = analytics.date_range_filter(gold_s, start, end)
        gold_c = gold_c.filter(
            (gold_c.analysis_date >= start) & (gold_c.analysis_date <= end)
        )
    gold_s = gold_s.cache()

    r = Renderer()
    # --- period summary (KPI row) ---
    r.add("Period summary (KPIs)", analytics.period_kpis(gold_s), limit=1)
    # --- tab 1: temporal evolution ---
    r.add(
        "Daily sentiment (temporal evolution)", gold_s, limit=10,
        order_by=["analysis_date"], desc=True,
        chart={  # px.line temporal (dashboard.py:332-350)
            "kind": "line", "x": "analysis_date",
            "ys": ["positive_headlines", "negative_headlines",
                   "neutral_headlines", "total_headlines"],
        },
    )
    r.add(
        "Sentiment distribution % (area chart data)",
        analytics.sentiment_distribution_pct(silver), limit=6, order_by=["sentiment"],
        chart={"kind": "bar", "x": "sentiment", "y": "pct"},
    )
    r.add(
        "Sentiment long format (melted, px.area input)",
        analytics.unpivot_sentiment_long(gold_s), limit=9,
        order_by=["analysis_date", "sentiment_type"], desc=True,
        chart={  # px.area distribution (dashboard.py:353-371): stacked
            "kind": "area_by", "x": "analysis_date",
            "series": "sentiment_type", "y": "headline_count",
        },
    )
    # --- tab 2: category distribution ---
    r.add(
        "Category totals (bar chart data)", analytics.category_totals(gold_c),
        limit=10,
        chart={"kind": "bar", "x": "category", "y": "total_count"},
    )
    r.add(
        "Top-5 categories over time (line chart data)",
        analytics.filter_to_top_categories(gold_c, 5), limit=10,
        order_by=["analysis_date", "category"], desc=True,
        chart={  # px.line per category (dashboard.py:417-430)
            "kind": "line_by", "x": "analysis_date",
            "series": "category", "y": "category_count",
        },
    )
    r.add(
        "Date × category heatmap (px.imshow pivot)",
        analytics.pivot_date_category(gold_c), limit=8,
        order_by=["analysis_date"], desc=True,
        chart={"kind": "heatmap", "row": "analysis_date"},
    )
    # --- tab 3: model confidence ---
    r.add(
        "Confidence by date & sentiment (line chart data)",
        gold.confidence_by_date_sentiment(silver), limit=9,
        order_by=["date", "sentiment"], desc=True,
        chart={  # px.line confidence (dashboard.py:469-483)
            "kind": "line_by", "x": "date",
            "series": "sentiment", "y": "avg_confidence",
        },
    )
    r.add(
        "Confidence histogram bins (go.Histogram data)",
        analytics.histogram_bins(silver), limit=12, order_by=["bin", "sentiment"],
        chart={"kind": "bar", "x": ["sentiment", "bin"], "y": "n"},
    )
    r.add(
        "Collected confidences per sentiment (box plot data)",
        analytics.collect_confidences(silver), limit=4, order_by=["sentiment"],
    )
    # --- tab 4: recent headlines ---
    r.add("Most recent headlines", analytics.recent_headlines(silver, 8), limit=8)
    # --- footer stats (summary widgets below the tabs) ---
    r.add("Avg headlines/day", analytics.avg_headlines_per_day(gold_s), limit=1)
    r.add("Positive-share trend (split halves)", analytics.trend_split_halves(gold_s), limit=1)
    r.add("Peak days", analytics.peak_days(gold_s), limit=1)
    r.add("Column maxes", analytics.column_maxes(gold_s), limit=1)

    stg.unpersist()
    gold_s.unpersist()
    return r


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--start", default=None)
    ap.add_argument("--end", default=None)
    ap.add_argument("--html", default=None, metavar="OUT.html")
    args = ap.parse_args(argv)

    from airdatapipeline_spark.session import get_spark

    spark = get_spark("dashboard")
    r = build_sections(spark, args.sf_dir, args.start, args.end)

    print("=" * 64)
    print("G1 HEADLINES — SENTIMENT DASHBOARD (engine: PySpark)")
    print("=" * 64)
    print(r.text())
    if args.html:
        with open(args.html, "w") as fh:
            fh.write(r.html())
        print(f"\nHTML written to {args.html}")


if __name__ == "__main__":
    main()
