"""Figure-building layer — the reference's ``plots.py`` surface.

The reference (plots.py:99-607, opset.py:264-461, tubes.py:409-421)
builds plotly/matplotlib figures straight from pandas frames. Neither
plotly nor matplotlib ships in this environment, so every builder here
returns a :class:`FigureSpec` — a renderer-independent description of
traces + layout whose *construction* (column selection, unit grouping,
standardization, subplot domains, PCA loadings, stacked-bar math) is
the tested engine surface. ``FigureSpec.show()`` renders through
plotly or matplotlib when one is installed; the spec fields map 1:1
onto ``go.Scatter``/``go.Bar``/``go.Layout``.

Function names and signatures mirror the reference so a notebook user
can switch imports: ``selplot`` (plots.py:125-147), ``byunitplot``
(190-242), ``groupplot`` (276-303), ``doubleplot`` (335-390),
``tsplot`` (450-490), ``pcacircle`` (531-607), ``plot_scores``
(tubes.py:409-421), plus ``record_figure`` (the Opset.make_figure
payload, opset.py:264-370) and ``instants_figure`` (the Selector
belief display, instants.py:946-980).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Sequence

import numpy as np

from tabata_spark.core.naming import byunits, get_colname, nameunit

try:  # pragma: no cover - optional renderer
    import plotly.graph_objects as _go
    from plotly.subplots import make_subplots as _make_subplots

    HAS_PLOTLY = True
except ImportError:
    _go = None
    _make_subplots = None
    HAS_PLOTLY = False

try:  # pragma: no cover - optional renderer
    import matplotlib.pyplot as _plt

    HAS_MPL = True
except ImportError:
    _plt = None
    HAS_MPL = False


@dataclass
class Trace:
    """One renderable series (maps onto go.Scatter / go.Bar)."""

    x: Sequence
    y: Sequence
    name: str | None = None
    kind: str = "scatter"  # "scatter" | "bar"
    mode: str = "lines"  # scatter only: "lines" | "markers" | "markers+text"
    row: int = 1
    text: Sequence | None = None
    dash: bool = False
    color: str | None = None
    opacity: float | None = None
    showlegend: bool = True


@dataclass
class FigureSpec:
    """Renderer-independent figure description."""

    traces: list[Trace] = field(default_factory=list)
    title: str = ""
    xaxis_title: str = ""
    yaxis_title: str = ""
    # per-row y-axis titles / vertical domains for linked subplots
    row_titles: dict[int, str] = field(default_factory=dict)
    row_domains: dict[int, tuple[float, float]] = field(default_factory=dict)
    barmode: str | None = None
    shapes: list[dict] = field(default_factory=list)  # e.g. unit circle
    vlines: list[float] = field(default_factory=list)
    showlegend: bool = True
    xrange: tuple[float, float] | None = None
    yrange: tuple[float, float] | None = None

    @property
    def nrows(self) -> int:
        return max((t.row for t in self.traces), default=1)

    # ----------------------------------------------------- renderers

    def to_plotly(self):  # pragma: no cover - needs plotly
        if not HAS_PLOTLY:
            raise ImportError("plotly is not installed; use the FigureSpec fields")
        nrows = self.nrows
        f = (
            _make_subplots(rows=nrows, cols=1, shared_xaxes=True)
            if nrows > 1
            else _go.Figure()
        )
        for t in self.traces:
            if t.kind == "bar":
                tr = _go.Bar(x=list(t.x), y=list(t.y), name=t.name)
            else:
                line = {}
                if t.dash:
                    line["dash"] = "dot"
                if t.color:
                    line["color"] = t.color
                tr = _go.Scatter(
                    x=list(t.x),
                    y=list(t.y),
                    name=t.name,
                    mode=t.mode,
                    text=t.text,
                    line=line or None,
                    opacity=t.opacity,
                    showlegend=t.showlegend,
                )
            if nrows > 1:
                f.add_trace(tr, row=t.row, col=1)
            else:
                f.add_trace(tr)
        for row, (lo, hi) in self.row_domains.items():
            f.update_yaxes(domain=(lo, hi), row=row, col=1)
        for row, ti in self.row_titles.items():
            f.update_yaxes(title_text=ti, row=row, col=1)
        f.update_layout(
            title=self.title,
            showlegend=self.showlegend,
            barmode=self.barmode,
        )
        if self.xaxis_title:
            f.update_xaxes(title_text=self.xaxis_title, row=nrows, col=1)
        if self.yaxis_title and nrows == 1:
            f.update_yaxes(title_text=self.yaxis_title)
        for s in self.shapes:
            f.add_shape(**s)
        for xv in self.vlines:
            f.add_vline(x=xv, line_color="red", line_dash="dot")
        if self.xrange:
            f.update_xaxes(range=list(self.xrange))
        if self.yrange:
            f.update_yaxes(range=list(self.yrange), scaleanchor="x", scaleratio=1)
        return f

    def to_matplotlib(self):  # pragma: no cover - needs matplotlib
        if not HAS_MPL:
            raise ImportError("matplotlib is not installed; use the FigureSpec fields")
        nrows = self.nrows
        fig, axes = _plt.subplots(nrows, 1, sharex=True, figsize=(12, 6))
        axes = np.atleast_1d(axes)
        for t in self.traces:
            ax = axes[t.row - 1]
            if t.kind == "bar":
                ax.bar(t.x, t.y, label=t.name)
            elif "markers" in t.mode:
                ax.plot(t.x, t.y, "o", label=t.name, color=t.color)
            else:
                ax.plot(
                    t.x,
                    t.y,
                    label=t.name,
                    linestyle=":" if t.dash else "-",
                    color=t.color,
                )
        for row, ti in self.row_titles.items():
            axes[row - 1].set_ylabel(ti)
        if self.yaxis_title:
            axes[0].set_ylabel(self.yaxis_title)
        for xv in self.vlines:
            axes[0].axvline(xv, color="red", linestyle=":")
        axes[0].set_title(self.title)
        axes[-1].set_xlabel(self.xaxis_title)
        for ax in axes:
            ax.grid(True)
            if self.showlegend:
                ax.legend()
        return fig

    def show(self):  # pragma: no cover - needs a renderer
        if HAS_PLOTLY:
            f = self.to_plotly()
            f.show()
            return f
        if HAS_MPL:
            f = self.to_matplotlib()
            _plt.show()
            return f
        raise ImportError(
            "no renderer installed (plotly or matplotlib); read the "
            "FigureSpec fields directly"
        )


# ----------------------------------------------------------- builders


def _numeric_cols(df) -> list[str]:
    return [c for c in df.columns if np.issubdtype(df[c].dtype, np.number)]


def selplot(df, variable: str | None = None) -> FigureSpec:
    """One channel of a record frame (reference selplot,
    plots.py:125-147): trace named "value", title = variable name,
    y-axis = unit."""
    col = get_colname(list(df.columns), variable)
    name, unit = nameunit(col)
    return FigureSpec(
        traces=[Trace(x=list(df.index), y=list(df[col]), name="value")],
        title=name,
        xaxis_title=str(df.index.name or ""),
        yaxis_title=unit,
    )


def byunitplot(df, yunit: str | None = None, title: str = "") -> FigureSpec:
    """All channels sharing one unit, overlaid (reference byunitplot,
    plots.py:190-242). With ``yunit=None`` the first unit is shown
    (where the reference offers a dropdown)."""
    groups = byunits(list(df.columns))
    if not groups:
        return FigureSpec(title=title)
    unit = yunit if yunit is not None else sorted(groups)[0]
    cols = groups.get(unit, [])
    traces = [
        Trace(x=list(df.index), y=list(df[c]), name=nameunit(c)[0])
        for c in cols
    ]
    return FigureSpec(
        traces=traces,
        title=title or f"Signaux avec unité [{unit}]",
        xaxis_title=str(df.index.name or "Index"),
        yaxis_title=f"[{unit}]",
    )


def groupplot(df, title: str = "", standardize: bool = False) -> FigureSpec:
    """Overlay every numeric column, optionally standardized; columns
    with zero variance are skipped under standardization (reference
    groupplot, plots.py:276-303)."""
    traces = []
    for c in _numeric_cols(df):
        y = df[c]
        if standardize:
            sd = y.std()
            if not sd > 0:
                continue
            y = (y - y.mean()) / sd
        traces.append(Trace(x=list(df.index), y=list(y), name=c))
    return FigureSpec(
        traces=traces, title=title, xaxis_title=str(df.index.name or "")
    )


def doubleplot(df1, df2=None, p: float = 0.5, space: float = 0.05,
               title: str | None = None) -> FigureSpec:
    """Two vertically-linked subplots (reference doubleplot,
    plots.py:335-390). ``df2`` may be a second frame, a column name,
    or a list of columns to split out of ``df1`` (those go on top,
    the complement below). Y-domains: top (1-p, 1), bottom
    (0, 1-p-space)."""
    if isinstance(df2, str):
        df2 = [df2]
    if isinstance(df2, list):
        cols = [get_colname(list(df1.columns), c) for c in df2]
        rest = [c for c in df1.columns if c not in cols]
        df1, df2 = df1[cols], df1[rest]
    traces = [
        Trace(x=list(df1.index), y=list(df1[c]), name=c, row=1) for c in df1.columns
    ] + [
        Trace(x=list(df2.index), y=list(df2[c]), name=c, row=2) for c in df2.columns
    ]
    spec = FigureSpec(
        traces=traces,
        title=title or "",
        xaxis_title=str(df1.index.name or ""),
        row_domains={1: (1 - p, 1.0), 2: (0.0, 1 - p - space)},
    )
    # single-unit panels get the unit as the panel y-title
    for row, frame in ((1, df1), (2, df2)):
        units = set(byunits(list(frame.columns)))
        if len(frame.columns) == 1 or len(units) == 1:
            spec.row_titles[row] = nameunit(frame.columns[0])[1]
    return spec


def tsplot(df, cols=None, title: str | None = None) -> FigureSpec:
    """Time-series display of selected columns (reference tsplot,
    plots.py:450-490)."""
    if cols is None:
        cols = list(df.columns)
    else:
        if isinstance(cols, str):
            cols = [cols]
        cols = [get_colname(list(df.columns), c) for c in cols]
    return FigureSpec(
        traces=[Trace(x=list(df.index), y=list(df[c]), name=c) for c in cols],
        title=title or "",
        xaxis_title=str(df.index.name or ""),
    )


def pcacircle(df, comp1: int = 1, comp2: int = 2, sample: float = 0,
              seed: int = 0) -> FigureSpec:
    """PCA correlation circle (reference pcacircle, plots.py:531-607):
    variables drawn as arrows at (loading × √eigenvalue) in the
    (comp1, comp2) plane — i.e. their correlations with the two
    components — inside the unit circle; optionally a sample of
    observations projected into the same plane.

    PCA is computed here from first principles (standardize → SVD) —
    no sklearn dependency."""
    X = df.values.astype(float)
    mu = X.mean(axis=0)
    sd = X.std(axis=0)  # ddof=0, StandardScaler semantics
    sd[sd == 0] = 1.0
    Xs = (X - mu) / sd
    n = len(Xs)
    U, S, Vt = np.linalg.svd(Xs, full_matrices=False)
    ev = S**2 / max(n - 1, 1)  # explained variance per component
    ratio = ev / ev.sum() if ev.sum() > 0 else ev
    i, j = comp1 - 1, comp2 - 1
    scalex, scaley = np.sqrt(ev[i]), np.sqrt(ev[j])
    tips_x = Vt[i] * scalex
    tips_y = Vt[j] * scaley

    traces = [
        Trace(
            x=list(tips_x),
            y=list(tips_y),
            mode="markers+text",
            text=list(df.columns),
            color="red",
            name="variables",
            showlegend=False,
        )
    ]
    for k in range(len(df.columns)):
        traces.append(
            Trace(
                x=[0.0, tips_x[k]],
                y=[0.0, tips_y[k]],
                dash=True,
                color="red",
                name="var",
                showlegend=False,
            )
        )
    if sample > 0:
        rng = np.random.default_rng(seed)
        Z = Xs @ Vt.T
        pts = rng.choice(n, int(n * sample), replace=False)
        traces.append(
            Trace(
                x=list(Z[pts, i] * scalex),
                y=list(Z[pts, j] * scaley),
                mode="markers",
                color="black",
                opacity=0.15,
                name="obs",
                showlegend=False,
            )
        )
    total2 = (ratio[i] + ratio[j]) * 100
    return FigureSpec(
        traces=traces,
        title=f"Projection dans le plan PC{comp1} x PC{comp2} ({total2:.1f}%)",
        xaxis_title=f"PC{comp1} ({ratio[i] * 100:.1f}%)",
        yaxis_title=f"PC{comp2} ({ratio[j] * 100:.1f}%)",
        shapes=[
            dict(type="circle", xref="x", yref="y", x0=-1, y0=-1, x1=1, y1=1)
        ],
        xrange=(-1.2, 1.2),
        yrange=(-1.2, 1.2),
        showlegend=False,
    )


# ------------------------------------------------ legacy entry points
#
# The reference exposes every chart THREE times — plain/`*c`
# (cufflinks) / `*m` (matplotlib) variants with identical data math
# (reference plots.py:99-123,162-188,243-274,304-333,392-448,492-529,
# 608-664). The engine folds each chart into ONE backend-agnostic
# FigureSpec builder (``FigureSpec.show`` picks plotly or matplotlib
# at render time), so the legacy names are thin aliases: verbatim
# notebook cells keep running, and the spec they get renders on
# whichever backend is installed.


def _check_sep(sep: str) -> None:
    # the engine's NAME[UNIT] convention is fixed (core/naming.py:18);
    # the reference's ``sep`` argument re-parameterizes the bracket
    # char, which no shipped dataset or notebook uses — fail loudly
    # rather than silently mis-split column names
    if sep != "[":
        raise ValueError(
            f"custom name/unit separator {sep!r} is not supported: the "
            "engine's column convention is fixed to NAME[UNIT]"
        )


def selplotc(df, variable: str | None = None, sep: str = "[") -> FigureSpec:
    """Reference ``selplotc`` (plots.py:99-123) — alias of
    :func:`selplot`."""
    _check_sep(sep)
    return selplot(df, variable)


def selplotm(df, variable: str | None = None, sep: str = "[") -> FigureSpec:
    """Reference ``selplotm`` (plots.py:162-188) — alias of
    :func:`selplot`."""
    _check_sep(sep)
    return selplot(df, variable)


def byunitplotm(df, yunit: str | None = None, title: str = "",
                sep: str = "[") -> FigureSpec:
    """Reference ``byunitplotm`` (plots.py:243-274) — alias of
    :func:`byunitplot`."""
    _check_sep(sep)
    return byunitplot(df, yunit, title)


def groupplotm(df, title: str = "", standardize: bool = False) -> FigureSpec:
    """Reference ``groupplotm`` (plots.py:304-333) — alias of
    :func:`groupplot`."""
    return groupplot(df, title=title, standardize=standardize)


def doubleplotm(df1, df2=None, p: float = 0.5, space: float = 0.05,
                title: str | None = None, sep: str = "[") -> FigureSpec:
    """Reference ``doubleplotm`` (plots.py:392-448) — alias of
    :func:`doubleplot`."""
    _check_sep(sep)
    return doubleplot(df1, df2, p=p, space=space, title=title)


def tsplotm(df, cols=None, title: str | None = None,
            sep: str = "[") -> FigureSpec:
    """Reference ``tsplotm`` (plots.py:492-529) — alias of
    :func:`tsplot`."""
    _check_sep(sep)
    return tsplot(df, cols, title=title)


def pcacirclem(df, pca=None, comp1: int = 1, comp2: int = 2,
               sample: float = 0, sep: str = "[") -> FigureSpec:
    """Reference ``pcacirclem`` (plots.py:608-664) — alias of
    :func:`pcacircle`. ``pca``: the reference optionally reuses a
    pre-fit sklearn PCA; the engine recomputes from the frame
    (standardize → SVD), which equals the reference's own
    ``pca=None`` default path, so the argument is accepted for
    signature compatibility and ignored."""
    _check_sep(sep)
    return pcacircle(df, comp1=comp1, comp2=comp2, sample=sample)


# ------------------------------------------------- engine-object views


def record_figure(sset, variable: str | None = None, pos: int | str = 0,
                  phase: str | None = None) -> FigureSpec:
    """The Opset.make_figure payload (reference opset.py:264-370):
    the chosen channel of one record, with the phase rows highlighted
    as a red overlay when a boolean phase column is set."""
    from tabata_spark.viz import plot_data

    colname = get_colname(sset.channels, variable)
    phase = phase or sset.phase
    pdf = plot_data(sset, colname, pos)
    name, unit = nameunit(colname)
    spec = FigureSpec(
        traces=[Trace(x=list(pdf.index), y=list(pdf[colname]), name="value")],
        title=str(pdf.index.name or name),
        yaxis_title=unit,
    )
    if phase and phase in pdf.columns:
        sel = pdf[pdf[phase].astype(bool)]
        spec.traces.append(
            Trace(
                x=list(sel.index),
                y=list(sel[colname]),
                name="phase",
                mode="markers",
                color="red",
            )
        )
    return spec


def instants_figure(selector, pos: int | str = 0, variable: str | None = None) -> FigureSpec:
    """Selector display (reference instants.py:946-980): the observed
    channel with the belief curve on a linked lower panel and a
    vertical line at the computed instant."""
    from pyspark.sql import functions as F

    name = selector.sset._resolve(pos)
    colname = get_colname(selector.sset.channels, variable)
    pdf = (
        selector.sset.record(name)
        .select("seq", F.col(f"`{colname}`").alias("y"))
        .orderBy("seq")
        .toPandas()
    )
    bf = selector.record_belief(name).select("seq", "p").toPandas()
    instants = selector.predict() if not selector.computed else selector.computed
    spec = FigureSpec(
        traces=[
            Trace(x=list(pdf["seq"]), y=list(pdf["y"]), name=colname, row=1),
            Trace(x=list(bf["seq"]), y=list(bf["p"]), name="belief", row=2),
        ],
        title=name,
        xaxis_title="seq",
        row_domains={1: (0.45, 1.0), 2: (0.0, 0.40)},
        row_titles={1: nameunit(colname)[1], 2: "p"},
    )
    if name in instants:
        spec.vlines.append(float(instants[name]))
    return spec


def scores_figure(tube) -> FigureSpec:
    """Out-of-tube stacked bars (reference tubes.py:409-421): one bar
    series per target, heights = score/N per record."""
    scr = tube.scores().toPandas().set_index("record_id")
    traces = [
        Trace(
            x=list(scr.index),
            y=list(scr[c] / scr["N"]),
            name=c,
            kind="bar",
        )
        for c in scr.columns
        if c != "N"
    ]
    return FigureSpec(
        traces=traces, title="Out of tube proportions", barmode="stack"
    )


def tube_figure(tube, target: str, pos: int | str = 0) -> FigureSpec:
    """One record's signal with its tube bounds (reference
    tubes.py:651-683 plot): y, z and the zmin/zmax envelope."""
    from tabata_spark.viz import tube_plot_data

    pdf = tube_plot_data(tube, target, pos)
    x = list(pdf.index)
    return FigureSpec(
        traces=[
            Trace(x=x, y=list(pdf["y"]), name=target),
            Trace(x=x, y=list(pdf["z"]), name="z", color="green"),
            Trace(x=x, y=list(pdf["zmin"]), name="zmin", dash=True, color="red"),
            Trace(x=x, y=list(pdf["zmax"]), name="zmax", dash=True, color="red"),
        ],
        title=f"Tube {target}",
        xaxis_title="seq",
        yaxis_title=nameunit(target)[1],
    )
