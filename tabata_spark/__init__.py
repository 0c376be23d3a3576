"""tabata_spark — a PySpark-native signal-set analytics engine.

From-scratch reimplementation of the capabilities of jee51/tabata
(reference at /root/reference, read-only) on idiomatic Spark:

- a *signal set* ("Opset", reference opset.py) is ONE long DataFrame
  ``(record_id: string, seq: long, ts: timestamp, <channels...>)``
  persisted as Parquet partitioned by ``record_id`` — never a Python
  list of DataFrames;
- every per-record loop of the reference becomes a
  ``Window.partitionBy('record_id').orderBy('seq')`` expression or one
  ``groupBy('record_id')`` aggregation, so the same code path scales
  from 52 flight records to 100 TB;
- learned components (instant detection, confidence tubes) fit on the
  driver from a few Spark jobs of sampled rows or moments;
- the slow path (scipy parity for Savitzky-Golay edges) is confined to
  Arrow-batched ``applyInPandas`` and is opt-in.
"""

from tabata_spark.core.naming import byunits, get_colname, nameunit
from tabata_spark.core.signalset import OpsetError, SignalSet
from tabata_spark.session import get_spark


def __getattr__(name):
    # heavier subsystems load lazily so `import tabata_spark` stays cheap
    if name in ("Selector", "Tube"):
        from tabata_spark import ml

        return getattr(ml, name)
    if name == "Opset":
        from tabata_spark import compat

        return compat.Opset
    raise AttributeError(name)


__all__ = [
    "Opset",
    "OpsetError",
    "Selector",
    "SignalSet",
    "Tube",
    "byunits",
    "get_colname",
    "get_spark",
    "nameunit",
]

__version__ = "0.1.0"
