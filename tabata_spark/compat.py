"""Reference-API compatibility facade.

A user of the reference (jee51/tabata) drives an ``Opset`` with a
storename, an integer cursor, and per-record pandas frames
(opset.py:74-260). This module offers that exact surface on top of the
Spark engine: ``Opset(path)`` opens/creates a Parquet-backed
SignalSet; indexing returns *pandas* frames shaped like the
reference's records (time index, ``index.name`` = record name);
``put``/``clean``/``rewind``/``current_record``/``iterator`` behave as
documented in SURVEY §2.1. The engine underneath stays lazy and
distributed — only the frames a user explicitly pulls cross the
driver boundary.

``Selector``/``Tube`` compat constructors accept the same storename
and surface the reference's attribute names (``selected`` keyed by
record POSITION here, translated to record names internally —
opset cursor semantics, instants.py:104-127).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import SparkSession

from tabata_spark.core.naming import byunits, get_colname, nameunit  # noqa: F401
from tabata_spark.core.signalset import OpsetError, SignalSet  # noqa: F401
from tabata_spark.operators.slicing import highlight as _highlight_df


def _spark() -> SparkSession:
    from tabata_spark.session import get_spark

    return get_spark()


class Opset:
    """Cursor-style facade over a Parquet-backed SignalSet."""

    def __init__(
        self,
        storename: str,
        phase: str | None = None,
        pos: int = 0,
        name: str = "",
        sortkey=None,
        spark: SparkSession | None = None,
    ):
        self.storename = storename
        self.name = name
        spark = spark or _spark()
        if os.path.exists(storename):
            self.sset = SignalSet.load(spark, storename, phase=phase)
        else:
            # empty store: created on first put (reference creates the
            # file eagerly; Parquet needs a schema, so we defer)
            self.sset = None
        self._sortkey = sortkey
        self.phase = phase
        self.sigpos = 0
        self.colname = None
        if self.sset is not None and len(self.records) > 0:
            self.sigpos = pos % len(self.records)
            self.colname = get_colname(self.sset.channels, None)

    # ------------------------------------------------------------ records

    @property
    def records(self) -> list[str]:
        if self.sset is None:
            return []
        recs = self.sset.records
        return sorted(recs, key=self._sortkey) if self._sortkey else recs

    def __len__(self) -> int:
        return len(self.records)

    @property
    def df(self) -> Any:
        """Current record as a pandas frame (reference cursor state)."""
        if not self.records:
            return None
        return self.sset.to_pandas_record(self.records[self.sigpos])

    def __getitem__(self, pos):
        if isinstance(pos, slice) or isinstance(pos, (list, tuple)):
            return list(self.iterator(pos))
        name = self.records[pos]
        self.sigpos = pos % len(self.records)
        return self.sset.to_pandas_record(name)

    def iterator(self, *argv):
        """Yield pandas frames; cursor restored after (opset.py:164-193)."""
        saved = self.sigpos
        if len(argv) == 1 and isinstance(argv[0], (slice, list, tuple)):
            sel = argv[0]
            idx = (
                range(*sel.indices(len(self.records)))
                if isinstance(sel, slice)
                else [i % len(self.records) for i in sel]
            )
        elif len(argv) == 1 and isinstance(argv[0], int):
            idx = range(min(argv[0], len(self.records)))
        elif len(argv) == 2:
            idx = range(argv[0], argv[1])
        else:
            idx = range(len(self.records))
        for i in idx:
            self.sigpos = i
            yield self.sset.to_pandas_record(self.records[i])
        self.sigpos = saved

    def __iter__(self):
        return self.iterator()

    def current_record(self) -> str:
        return self.records[self.sigpos]

    def rewind(self, sigpos: int = 0) -> "Opset":
        self.sigpos = sigpos % max(len(self.records), 1)
        return self

    # ---------------------------------------------------------------- io

    def put(self, df, record: str | None = None) -> "Opset":
        """Upsert a pandas frame as a record (opset.py:229-260)."""
        name = record or getattr(df.index, "name", None)
        if not name:
            raise OpsetError(
                self.storename, "record name required (arg or df.index.name)"
            )
        spark = _spark()
        if self.sset is None:
            SignalSet.from_records(spark, {name: df}).save(self.storename)
            self.sset = SignalSet.load(spark, self.storename, phase=self.phase)
        else:
            self.sset = self.sset.put(df, record=name) if self.sset.path else None
            if self.sset is None or self.sset.path is None:
                raise RuntimeError("compat Opset requires a path-backed store")
        self.sigpos = self.records.index(name)
        self.colname = get_colname(self.sset.channels, self.colname)
        return self

    def clean(self) -> "Opset":
        """Truncate the store (opset.py:215-226)."""
        import shutil

        if os.path.exists(self.storename):
            shutil.rmtree(self.storename, ignore_errors=True)
        self.sset = None
        self.sigpos = 0
        return self

    # ---------------------------------------------------------- figures

    def plot(self, phase: str | None = None, pos: int | None = None,
             name: str | None = None):
        """The reference's plot() (opset.py:412-441): current record's
        channel with phase overlay, as a FigureSpec (``.show()`` with
        plotly/matplotlib installed)."""
        from tabata_spark.plots import record_figure

        if pos is not None:
            self.sigpos = pos % max(len(self.records), 1)
        if name is not None:
            self.colname = get_colname(self.sset.channels, name)
        return record_figure(
            self.sset, self.colname, self.sigpos, phase=phase or self.phase
        )

    def plotc(self, phase: str | None = None, pos: int | None = None,
              name: str | None = None):
        """Reference ``plotc`` (opset.py:443-461) — the cufflinks
        variant of ``plot``; here the FigureSpec is backend-agnostic,
        so it is a straight alias."""
        return self.plot(phase=phase, pos=pos, name=name)

    def browse(self, *_, **__):
        """The reference's interactive ipywidgets browser
        (opset.py:264-410) needs a live notebook; iterate records with
        ``plot(pos=i)`` instead."""
        raise NotImplementedError(
            "browse() is the reference's ipywidgets UI; use plot(pos=i) "
            "and FigureSpec.show() per record"
        )

    def __repr__(self) -> str:
        return (
            f"OPSET {self.name or self.storename}: {len(self)} record(s), "
            f"current = {self.records[self.sigpos] if self.records else None}"
        )


def highlight(origin: Opset, extract: Opset, flag: str = "INTERVAL") -> Opset:
    """Reference highlight (tubes.py:41-70): mark origin rows whose
    (record, ts) appears in the extract; writes the flagged set to a
    sibling ``_E`` store and returns it."""
    flagged = _highlight_df(origin.sset.df, extract.sset.df, flag=flag)
    out_path = origin.storename.rstrip("/") + "_E"
    SignalSet(flagged, phase=flag).save(out_path)
    return Opset(out_path, phase=flag)


class Selector(Opset):
    """Reference ``Selector(storename)`` facade (instants.py:161-183).

    The reference keys ``selected``/``computed`` by record POSITION
    (its opset-cursor convention); the engine keys by record name.
    This facade translates both ways, so
    ``sel.selected[3] = 1200`` labels the 4th record alphabetically
    and ``sel.computed`` comes back position-keyed. The interactive
    plotly labeling UI (instants.py:692-1058) is out of engine scope —
    labels are assigned programmatically here."""

    def __init__(
        self,
        storename: str,
        phase: str | None = None,
        pos: int = 0,
        name: str = "",
        spark: SparkSession | None = None,
    ):
        super().__init__(storename, phase=phase, pos=pos, name=name, spark=spark)
        if self.sset is None:
            raise FileNotFoundError(
                f"Selector requires an existing store: {storename}"
            )
        from tabata_spark.ml.selector import Selector as _EngineSelector

        self._engine = _EngineSelector(self.sset)
        self.viewed: set[int] = set()

    # ------------------------------------------------- pos <-> name

    def _name(self, pos: int) -> str:
        if not self.records:
            raise ValueError(
                "Selector store has no records — nothing to view or"
                " label (the store exists but is empty)"
            )
        return self.records[pos % len(self.records)]

    def _pos_map(self, by_name: dict[str, int]) -> dict[int, int]:
        index = {n: i for i, n in enumerate(self.records)}
        return {index[k]: v for k, v in by_name.items() if k in index}

    # ------------------------------------------------- label surface

    @property
    def selected(self) -> dict[int, int]:
        return _PosView(self)

    @selected.setter
    def selected(self, mapping: dict[int, int]) -> None:
        self._engine.selected = {
            self._name(p): int(v) for p, v in mapping.items()
        }

    @property
    def computed(self) -> dict[int, int]:
        return self._pos_map(self._engine.computed)

    @property
    def variables(self) -> set:
        return self._engine.variables

    @variables.setter
    def variables(self, v) -> None:
        self._engine.variables = set(v)

    @property
    def idcodes(self) -> list:
        return self._engine.idcodes

    # parameter dicts pass straight through (reference users mutate
    # them in place or reassign wholesale — both must reach the engine)
    @property
    def learn_params(self):
        return self._engine.learn_params

    @learn_params.setter
    def learn_params(self, d):
        self._engine.learn_params = dict(d)

    @property
    def feature_params(self):
        return self._engine.feature_params

    @feature_params.setter
    def feature_params(self, d):
        self._engine.feature_params = dict(d)

    @property
    def predict_params(self):
        return self._engine.predict_params

    @predict_params.setter
    def predict_params(self, d):
        self._engine.predict_params = dict(d)

    def clear_selection(self) -> None:
        """Reset labels/observations (instants.py:195-208)."""
        self.viewed.clear()
        self._engine.selected.clear()
        self._engine.variables.clear()
        self._engine.computed.clear()

    # --------------------------------------------- labeling recorder
    #
    # The reference's ipywidgets labeling loop (instants.py:692-1058)
    # drives exactly three state transitions; these methods replay
    # them programmatically (widget RENDERING is out of scope — see
    # README). A click session `slider→pos; click at seq` is
    # `mark_viewed(pos); label(pos, seq)`, and a replayed session
    # produces the same fit() inputs as the reference's dict
    # assignment (instants_doc cell 14).

    def mark_viewed(self, pos: int, name: str | None = None) -> "Selector":
        """The slider-navigation transition (reference update_plot,
        instants.py:727-740): move the cursor to ``pos`` (optionally
        switching the displayed column to ``name``) and add the
        position to ``viewed``. Raises a descriptive ValueError on an
        empty store (Selector only requires that the store EXIST;
        labeling needs at least one record)."""
        if not self.records:
            raise ValueError(
                "Selector store has no records — nothing to view or"
                " label (the store exists but is empty)"
            )
        self.sigpos = pos % len(self.records)
        if name is not None:
            self.colname = get_colname(self.sset.channels, name)
        self.viewed.add(self.sigpos)
        return self

    def label(self, pos: int, seq: int, name: str | None = None) -> "Selector":
        """The click-to-label transition (reference selection_fn,
        instants.py:825-858): navigate to ``pos`` (marking it
        viewed, as the slider callback does before any click can
        land), add the DISPLAYED column to ``variables`` — the
        reference adds ``self.colname``, i.e. labeling a curve
        enrolls that curve as a feature — and record
        ``selected[pos] = seq``."""
        self.mark_viewed(pos, name)
        if self.colname is not None:
            self._engine.variables.add(self.colname)
        self._engine.selected[self._name(self.sigpos)] = int(seq)
        return self

    # ------------------------------------------------- model surface

    def fit(self) -> "Selector":
        self._engine.fit()
        return self

    def predict(self) -> dict[int, int]:
        self._engine.predict()
        return self.computed

    def belief(self, pos: int | None = None):
        """Belief curve for the current (or given) record, in seq
        order (instants.py:483-549) — numpy array."""
        if pos is not None:
            self.sigpos = pos % max(len(self.records), 1)
        rec = self.records[self.sigpos]
        pdf = self._engine.record_belief(rec).select("p").toPandas()
        return pdf["p"].to_numpy()

    def load(self, storename: str) -> "Selector":
        """Re-target the trained detector at a NEW store
        (instants.py:683-689): the model, retained indicators, and
        prediction parameters transfer; labels do not."""
        out = Selector(
            storename, phase=self.phase, spark=self.sset.df.sparkSession
        )
        e, src = out._engine, self._engine
        e.idcodes = list(src.idcodes)
        e._kept_names = list(src._kept_names)
        e._model = src._model
        e.variables = set(src.variables)
        e.feature_params = dict(src.feature_params)
        e.predict_params = dict(src.predict_params)
        return out

    def describe(self) -> str:
        return self._engine.describe()

    def score(self) -> float:
        return self._engine.score()

    def plot(self, pos: int | None = None, name: str | None = None):
        """Signal + belief panel + computed-instant line (reference
        instants.py:946-980), as a FigureSpec."""
        from tabata_spark.plots import instants_figure

        if pos is not None:
            self.sigpos = pos % max(len(self.records), 1)
        return instants_figure(self._engine, self.sigpos, name)

    def __repr__(self) -> str:
        return (
            f"SELECTOR {self.name or self.storename}: "
            f"{len(self._engine.selected)} instant(s) selected over "
            f"{len(self)} record(s), {len(self.variables)} variable(s)"
        )


class _PosView(dict):
    """Position-keyed live view over the engine's name-keyed labels:
    reads are a snapshot, writes flow through to the engine."""

    def __init__(self, owner: "Selector"):
        self._owner = owner
        super().__init__(owner._pos_map(owner._engine.selected))

    def __setitem__(self, pos: int, seq: int) -> None:
        self._owner._engine.selected[self._owner._name(pos)] = int(seq)
        self._owner.viewed.add(pos % len(self._owner.records))
        super().__setitem__(pos % len(self._owner.records), int(seq))

    def __delitem__(self, pos: int) -> None:
        self._owner._engine.selected.pop(self._owner._name(pos), None)
        super().__delitem__(pos % len(self._owner.records))


class Tube(Opset):
    """Reference ``Tube(storename)`` facade (tubes.py:151-167):
    storename constructor, ``variables``/``factors`` sets, cursor
    ``estimate(colname)`` returning (z, zmin, zmax) arrays for the
    current record, pandas ``scores()``."""

    def __init__(
        self,
        storename: str,
        phase: str | None = None,
        pos: int = 0,
        name: str = "",
        spark: SparkSession | None = None,
    ):
        super().__init__(storename, phase=phase, pos=pos, name=name, spark=spark)
        if self.sset is None:
            raise FileNotFoundError(f"Tube requires an existing store: {storename}")
        from tabata_spark.ml.tube import Tube as _EngineTube

        self._engine = _EngineTube(self.sset)

    @property
    def variables(self) -> set:
        return self._engine.variables

    @variables.setter
    def variables(self, v) -> None:
        self._engine.variables = set(v)

    @property
    def factors(self) -> set:
        return self._engine.factors

    @factors.setter
    def factors(self, v) -> None:
        self._engine.factors = set(v)

    @property
    def learn_params(self):
        return self._engine.learn_params

    @learn_params.setter
    def learn_params(self, d):
        self._engine.learn_params = dict(d)

    @property
    def tube_params(self):
        return self._engine.tube_params

    @tube_params.setter
    def tube_params(self, d):
        self._engine.tube_params = dict(d)

    def fit(self) -> "Tube":
        self._engine.fit()
        return self

    def describe(self) -> dict:
        return self._engine.describe()

    def estimate(self, colname: str | None = None):
        """(z, zmin, zmax) numpy arrays for the CURRENT record in seq
        order — the reference's cursor-shaped estimate surface
        (tubes.py:306-356), computed distributed then pulled for the
        one record on display."""
        target = get_colname(self.sset.channels, colname) if colname else self.colname
        rec = self.records[self.sigpos]
        est = self._engine.estimate_frame(
            target, self.sset.df.filter(self.sset.df.record_id == rec)
        )
        pdf = est.orderBy("seq").select("z", "zmin", "zmax").toPandas()
        return (
            pdf["z"].to_numpy(),
            pdf["zmin"].to_numpy(),
            pdf["zmax"].to_numpy(),
        )

    def scores(self):
        """Per-record out-of-tube counts as a pandas frame
        (tubes.py:392-406)."""
        return self._engine.scores().toPandas().set_index("record_id")

    def local_scores(self):
        """Out-of-tube counts for the CURRENT record only
        (tubes.py:376-390) — one-record pandas frame; only that
        record's partition is scanned."""
        rec = self.records[self.sigpos]
        return (
            self._engine.scores(self.sset.record(rec))
            .toPandas()
            .set_index("record_id")
        )

    def plot(self, pos: int | None = None, name: str | None = None):
        """Signal + tube envelope for the current record (reference
        tubes.py:651-683), as a FigureSpec."""
        from tabata_spark.plots import tube_figure

        if pos is not None:
            self.sigpos = pos % max(len(self.records), 1)
        target = get_colname(self.sset.channels, name) if name else self.colname
        return tube_figure(self._engine, target, self.sigpos)

    def plot_scores(self):
        """Stacked out-of-tube proportion bars (tubes.py:409-421)."""
        from tabata_spark.plots import scores_figure

        return scores_figure(self._engine)

    def __repr__(self) -> str:
        return (
            f"TUBE {self.name or self.storename}: {len(self)} record(s), "
            f"{len(self.variables)} target(s), {len(self.factors)} factor(s)"
        )
