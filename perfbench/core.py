"""Pure helpers shared by the runner, the comparison tool and the tests:
sample statistics, result canonicalization, failure accounting and the
frozen benchmark definition files. Nothing here starts Spark."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import importlib.util
import json
import math
import os
import statistics
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
OPS_FILE = os.path.join(HERE, "ops.json")
EXPECTED_FILE = os.path.join(HERE, "expected.json")
BENCHMARK_FILE = os.path.join(ROOT, "BENCHMARK.json")


def load_json(path: str):
    with open(path) as fh:
        return json.load(fh)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs, beyond: int = 10) -> tuple[float, float]:
    """The highest percentile that still has at least ``beyond`` samples
    above it: the order statistic at rank ``n - beyond`` (1-based).
    Returns ``(value, percentile)``. Raises ValueError when fewer than
    ``beyond + 1`` samples exist, because no such percentile is defined."""
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples leave no percentile with {beyond} beyond it")
    s = sorted(xs)
    return float(s[n - beyond - 1]), 100.0 * (n - beyond) / n


def quartiles(xs) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def shards(ops: list[str], cost: dict[str, float], k: int) -> list[list[str]]:
    """Deal ``ops`` to ``k`` clients, longest first to the least loaded
    (ties to the lowest index), so every client carries about the same
    work and a pass's wall time does not hinge on which slow op the op
    order leaves for last. Each shard keeps the order of ``ops``."""
    load = [0.0] * k
    owner: dict[str, int] = {}
    for op in sorted(ops, key=lambda o: (-cost[o], o)):
        i = min(range(k), key=lambda j: (load[j], j))
        owner[op] = i
        load[i] += cost[op]
    return [[op for op in ops if owner[op] == i] for i in range(k)]


# ---------------------------------------------------------------------------
# result canonicalization
# ---------------------------------------------------------------------------


def _correctness_module():
    """``tools/check_correctness.py`` owns the canonical value format the
    oracle gate hashes with; import it rather than copy it. It imports
    ``deva_spark`` and ``__spark_entry__`` from the repository root."""
    import sys

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_CC = None


def frame_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    global _CC
    if _CC is None:
        _CC = _correctness_module()
    return _CC.frame_hash(cols, rows)


def _native(v, dtype: str):
    """One pandas cell back to the Python value ``DataFrame.collect()``
    yields for a column of Spark type ``dtype`` (a simpleString)."""
    if v is None:
        return None
    if hasattr(v, "item") and not hasattr(v, "__len__"):  # numpy scalar
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        # pandas turns a null in a numeric column into NaN
        return None
    if dtype.startswith("array<"):
        inner = dtype[len("array<"):-1]
        return [_native(x, inner) for x in list(v)]
    if dtype.startswith("struct<"):
        if isinstance(v, dict):
            return tuple(_native(x, "") for x in v.values())
        return tuple(_native(x, "") for x in v)
    if dtype in ("bigint", "int", "smallint", "tinyint") and isinstance(v, float):
        return int(v)
    if dtype.startswith("timestamp") or type(v).__name__ == "Timestamp":
        if type(v).__name__ == "NaTType":
            return None
        if hasattr(v, "to_pydatetime"):
            return v.to_pydatetime()
    if isinstance(v, dt.datetime) and dtype == "date":
        return v.date()
    if isinstance(v, decimal.Decimal) and v.is_nan():
        return None
    return v


def pandas_rows(pdf, dtypes: list[tuple[str, str]]) -> list[tuple]:
    """Rows of a ``toPandas()`` frame in ``collect()`` form, so the
    canonical hash of the timed result matches the oracle's."""
    cols = [pdf.iloc[:, i].tolist() for i in range(pdf.shape[1])]
    types = [t for _, t in dtypes]
    return [
        tuple(_native(c[r], types[i]) for i, c in enumerate(cols))
        for r in range(pdf.shape[0])
    ]


def result_hash(pdf, dtypes: list[tuple[str, str]]) -> tuple[str, int]:
    return frame_hash([c for c, _ in dtypes], pandas_rows(pdf, dtypes))


def source_digest(package_dir: str) -> str:
    """Hash of every ``.py`` file under ``package_dir`` (path and bytes):
    the key of the shared warm staging, so two commits never share one."""
    h = hashlib.sha256()
    for base, dirs, files in os.walk(package_dir):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, package_dir).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# failure accounting
# ---------------------------------------------------------------------------


@dataclass
class Outcomes:
    """Per-op outcomes of one run. An op that raised and an op whose
    result hash differs from the expected one both count as failed."""

    attempted: int = 0
    raised: list[str] = field(default_factory=list)
    mismatched: list[str] = field(default_factory=list)

    def record(self, name: str, error: BaseException | None, got: str | None, want: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.raised.append(name)
        elif got != want:
            self.mismatched.append(name)

    @property
    def failed(self) -> int:
        return len(self.raised) + len(self.mismatched)

    @property
    def failed_names(self) -> list[str]:
        return sorted(set(self.raised) | set(self.mismatched))
