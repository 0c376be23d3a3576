"""Viz layer (reference plots.py / opset.py:264-461 — SURVEY §7 step
9: thin by design).

The reference's ~1,200 LoC of plotly/ipywidgets machinery is UI, not
engine. Here every chart becomes a *data adapter*: a function that
collects exactly the frame a figure needs (one record, a standardized
overlay, tube bounds, score proportions) into pandas, plus an
import-gated ``render_*`` that draws it when plotly is installed
(it is not in this environment — the adapters are the tested surface).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tabata_spark.core.naming import get_colname, nameunit
from tabata_spark.core.signalset import SignalSet

try:  # pragma: no cover - not installed in this environment
    import plotly.graph_objects as _go

    HAS_PLOTLY = True
except ImportError:
    _go = None
    HAS_PLOTLY = False


def plot_data(sset: SignalSet, variable: str | None = None, pos: int | str = 0) -> Any:
    """One record's channel as a time-indexed pandas Series, with the
    phase rows (if any) marked — the reference plot() payload
    (opset.py:316-339)."""
    colname = get_colname(sset.channels, variable)
    name = sset._resolve(pos)
    cols = ["seq", "ts", colname] + ([sset.phase] if sset.phase else [])
    pdf = (
        sset.record(name)
        .select(*[F.col(f"`{c}`") for c in cols])
        .orderBy("seq")
        .toPandas()
    )
    if "ts" in pdf.columns:
        pdf = pdf.set_index("ts")
        pdf.index.name = name
    return pdf


def groupplot_data(
    sset: SignalSet, variable: str | None = None, records: list[str] | None = None,
    standardize: bool = True,
) -> Any:
    """Overlay payload (reference groupplot, plots.py:270-320): the
    chosen channel for many records, per-record standardized (std==0
    guard, plots.py:285-289), pivoted record × seq in pandas."""
    colname = get_colname(sset.channels, variable)
    df = sset.df if records is None else sset.subset(records).df
    y = F.col(f"`{colname}`")
    if standardize:
        w = Window.partitionBy("record_id").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
        mu, sd = F.avg(y).over(w), F.stddev_samp(y).over(w)
        y = F.when(sd > 0, (y - mu) / sd).otherwise(y)
    pdf = df.select("record_id", "seq", y.alias(colname)).orderBy(
        "record_id", "seq"
    ).toPandas()
    return pdf.pivot(index="seq", columns="record_id", values=colname)


def doubleplot_data(sset: SignalSet, cols: list[str], pos: int | str = 0):
    """Split payload (reference doubleplot, plots.py:353-362): the
    named channels and the complement, as two pandas frames."""
    pdf = sset.to_pandas_record(pos)
    sel = [get_colname(list(pdf.columns), c) for c in cols]
    rest = [c for c in pdf.columns if c not in sel]
    return pdf[sel], pdf[rest]


def tube_plot_data(tube, target: str, pos: int | str = 0) -> Any:
    """Tube overlay payload (reference plot/estimate display,
    tubes.py:306-356): y, z, zmin, zmax for one record."""
    name = tube.sset._resolve(pos)
    rows = tube.sset.df.filter(F.col("record_id") == name)
    return (
        tube.estimate_frame(target, rows)
        .select("seq", F.col(f"`{target}`").alias("y"), "z", "zmin", "zmax")
        .orderBy("seq")
        .toPandas()
        .set_index("seq")
    )


def scores_plot_data(tube) -> Any:
    """Stacked-bar payload (reference plot_scores, tubes.py:409-421):
    out-of-tube proportions per record × target."""
    return tube.score_proportions().toPandas().set_index("record_id")


def belief_plot_data(selector, pos: int | str = 0) -> Any:
    """Belief-curve payload (reference belief display)."""
    name = selector.sset._resolve(pos)
    return selector.record_belief(name).toPandas().set_index("seq")


def _require_plotly():
    if not HAS_PLOTLY:
        raise ImportError(
            "plotly is not installed in this environment; use the *_data "
            "adapters and render with your own stack"
        )


def render_plot(sset: SignalSet, variable=None, pos=0):  # pragma: no cover
    """Reference plot() (opset.py:341-370) — needs plotly."""
    _require_plotly()
    pdf = plot_data(sset, variable, pos)
    colname = get_colname(sset.channels, variable)
    name, unit = nameunit(colname)
    fig = _go.Figure()
    fig.add_scatter(x=pdf.index, y=pdf[colname], name=name)
    if sset.phase and sset.phase in pdf.columns:
        sel = pdf[pdf[sset.phase]]
        fig.add_scatter(
            x=sel.index, y=sel[colname], mode="markers", name=sset.phase,
            marker=dict(color="red", size=3),
        )
    fig.update_layout(yaxis_title=f"{name} [{unit}]", title=pdf.index.name)
    return fig
