"""Training-set validation: declarative expectations evaluated in one
distributed aggregation pass, plus a great-expectations-style profiler
that DERIVES a profile from a reference (saved) dataset.

Reference parity (``sdk/python/feast/dqm``):

* ``profiler.Profiler.analyze_dataset(df) -> Profile`` — here
  ``DatasetProfiler.analyze(df) -> ValidationProfile``: one distributed
  aggregation over the reference frame observes per-column
  distributions (min/max/mean/stddev/null-ratio/cardinality) and emits
  widened expectations, the same shape great_expectations'
  UserConfigurableProfiler produces from a PandasDataset
  (ge_profiler.py:115-170) — but computed JVM-side on the full frame,
  never a driver-side pandas copy.
* ``Profile.validate(df) -> ValidationReport`` with ``is_success`` and
  ``errors`` (check_name / column_name / observed_value) — here
  ``ValidationProfile.run(df)``; the dict-shaped ``validate`` remains
  for callers that want raw measurements.
* ``RetrievalJob.to_df(validation_reference)`` gate
  (feature_store.py get_historical_features → offline_store.py:76-184)
  — here ``core.store.RetrievalJob.to_df(validation_reference=...)``
  raises ``ValidationError`` with the failing-expectation diff.
* serialization (``to_proto``/``from_proto``) — here
  ``to_json``/``from_json`` (registry/sidecar storable).

Check-name mapping to great_expectations for readers of the reference:
``row_count_between`` ≈ expect_table_row_count_to_be_between,
``columns_ordered`` ≈ expect_table_columns_to_match_ordered_list,
``min_at_least``/``max_at_most`` ≈ expect_column_min/max_to_be_between,
``mean_between`` ≈ expect_column_mean_to_be_between,
``quantile_between`` ≈ expect_column_quantile_values_to_be_between,
``stddev_at_most`` ≈ expect_column_stdev_to_be_between,
``values_in_set`` ≈ expect_column_values_to_be_in_set,
``null_ratio_max`` ≈ expect_column_values_to_not_be_null(mostly=...).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feast_spark.session import collect_bounded


@dataclass(frozen=True)
class Expect:
    """One expectation. kinds: row_count_min, row_count_max,
    row_count_between, null_ratio_max, min_at_least, max_at_most,
    mean_between, quantile_between, stddev_at_most, distinct_at_least,
    unique_key, values_in_set, columns_ordered.

    ``quantile_between`` checks ``value <= approx_percentile(column,
    quantile) <= value_hi`` (t-digest sketch, accuracy 10000 — the
    distributed analogue of GE's quantile expectation)."""

    kind: str
    column: str | None = None
    value: float | None = None
    columns: Sequence[str] = ()
    value_hi: float | None = None
    value_set: Sequence = ()
    quantile: float | None = None


@dataclass(frozen=True)
class ValidationCheckError:
    """One failed expectation — the reference's dqm ValidationError
    record shape (profiler.py:60-78)."""

    check_name: str
    column_name: str
    observed_value: float | None = None
    expected: str = ""


class ValidationReport:
    """Reference ``ValidationReport`` contract: ``is_success`` +
    ``errors`` (profiler.py:41-57)."""

    def __init__(self, raw: dict):
        self.raw = raw

    @property
    def is_success(self) -> bool:
        return bool(self.raw["passed"])

    @property
    def errors(self) -> list[ValidationCheckError]:
        return [
            ValidationCheckError(
                check_name=r["kind"],
                column_name=(
                    r["column"] if isinstance(r["column"], str) else ",".join(map(str, r["column"]))
                ),
                observed_value=(
                    r["measured"] if isinstance(r["measured"], (int, float)) else None
                ),
                expected=r.get("expected", ""),
            )
            for r in self.raw["expectations"]
            if not r["ok"]
        ]

    def __repr__(self) -> str:
        if self.is_success:
            return f"<ValidationReport OK rows={self.raw['rows']}>"
        return f"<ValidationReport FAILED {self.errors}>"


@dataclass
class ValidationProfile:
    expectations: Sequence[Expect] = field(default_factory=list)

    def validate(self, df: DataFrame) -> dict:
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, e in enumerate(self.expectations):
            if e.kind == "null_ratio_max":
                aggs.append(
                    F.avg(F.when(F.col(e.column).isNull(), 1.0).otherwise(0.0)).alias(f"__m{i}")
                )
            elif e.kind == "min_at_least":
                aggs.append(F.min(e.column).cast("double").alias(f"__m{i}"))
            elif e.kind == "max_at_most":
                aggs.append(F.max(e.column).cast("double").alias(f"__m{i}"))
            elif e.kind == "mean_between":
                if e.value_hi is None:
                    # fail fast with a clear message instead of a TypeError
                    # ('<=' between float and None) deep in the result loop
                    raise ValueError(
                        "mean_between requires value_hi (upper bound); "
                        f"got value_hi=None for column {e.column!r}"
                    )
                aggs.append(F.avg(F.col(e.column).cast("double")).alias(f"__m{i}"))
            elif e.kind == "quantile_between":
                if e.value_hi is None:
                    raise ValueError(
                        "quantile_between requires value_hi (upper bound); "
                        f"got value_hi=None for column {e.column!r}"
                    )
                if e.quantile is None or not (0.0 <= e.quantile <= 1.0):
                    raise ValueError(
                        f"quantile_between requires quantile in [0, 1]; got "
                        f"{e.quantile!r} for column {e.column!r}"
                    )
                aggs.append(
                    F.percentile_approx(
                        F.col(e.column).cast("double"), F.lit(e.quantile), F.lit(10000)
                    ).alias(f"__m{i}")
                )
            elif e.kind == "stddev_at_most":
                aggs.append(F.stddev_samp(F.col(e.column).cast("double")).alias(f"__m{i}"))
            elif e.kind == "values_in_set":
                # unexpected (non-null, outside the set) row count — the
                # GE result_format COMPLETE "unexpected_count"
                aggs.append(
                    F.sum(
                        F.when(
                            F.col(e.column).isNotNull()
                            & ~F.col(e.column).isin(list(e.value_set)),
                            1,
                        ).otherwise(0)
                    ).alias(f"__m{i}")
                )
            elif e.kind == "distinct_at_least":
                aggs.append(F.countDistinct(e.column).cast("double").alias(f"__m{i}"))
            elif e.kind == "unique_key":
                # struct-wrap so rows with NULL key components still count
                # (bare countDistinct drops any row with a null column and
                # falsely reports duplicates on unique data)
                aggs.append(
                    F.countDistinct(F.struct(*[F.col(c) for c in e.columns]))
                    .cast("double")
                    .alias(f"__m{i}")
                )
            elif e.kind not in (
                "row_count_min",
                "row_count_max",
                "row_count_between",
                "columns_ordered",
            ):
                # fail fast BEFORE the distributed aggregation runs
                raise ValueError(f"unknown expectation kind {e.kind!r}")
        row = df.agg(*aggs).first()
        n = row["__n"]
        results = []
        ok_all = True
        for i, e in enumerate(self.expectations):
            expected = ""
            if e.kind == "row_count_min":
                measured, ok = float(n), n >= e.value
                expected = f">= {e.value}"
            elif e.kind == "row_count_max":
                measured, ok = float(n), n <= e.value
                expected = f"<= {e.value}"
            elif e.kind == "row_count_between":
                hi = e.value_hi if e.value_hi is not None else float("inf")
                measured, ok = float(n), e.value <= n <= hi
                expected = f"[{e.value}, {e.value_hi if e.value_hi is not None else 'unbounded'}]"
            elif e.kind == "columns_ordered":
                measured = float(list(df.columns) == list(e.columns))
                ok = bool(measured)
                expected = ",".join(e.columns)
            elif e.kind == "null_ratio_max":
                measured = float(row[f"__m{i}"] or 0.0)
                ok = measured <= e.value
                expected = f"<= {e.value}"
            elif e.kind == "min_at_least":
                measured = row[f"__m{i}"]
                ok = measured is not None and measured >= e.value
                expected = f">= {e.value}"
            elif e.kind == "max_at_most":
                measured = row[f"__m{i}"]
                ok = measured is not None and measured <= e.value
                expected = f"<= {e.value}"
            elif e.kind == "mean_between":
                measured = row[f"__m{i}"]
                ok = measured is not None and e.value <= measured <= e.value_hi
                expected = f"[{e.value}, {e.value_hi}]"
            elif e.kind == "quantile_between":
                measured = row[f"__m{i}"]
                # all-NULL column -> no quantile: the reference observed
                # bounds, so an unobservable quantile IS drift
                ok = measured is not None and e.value <= measured <= e.value_hi
                expected = f"q{e.quantile} in [{e.value}, {e.value_hi}]"
            elif e.kind == "stddev_at_most":
                measured = row[f"__m{i}"]
                # stddev of a 1-row frame is NULL — vacuously fine
                ok = measured is None or measured <= e.value
                expected = f"<= {e.value}"
            elif e.kind == "values_in_set":
                measured = float(row[f"__m{i}"] or 0)
                ok = measured == 0
                expected = f"all in {sorted(map(str, e.value_set))}"
            elif e.kind == "distinct_at_least":
                measured = float(row[f"__m{i}"])
                ok = measured >= e.value
                expected = f">= {e.value}"
            elif e.kind == "unique_key":
                measured = float(row[f"__m{i}"])
                ok = measured == n
                expected = f"== {n}"
            else:
                raise ValueError(f"unknown expectation kind {e.kind!r}")
            ok_all &= bool(ok)
            results.append(
                {
                    "kind": e.kind,
                    "column": e.column or list(e.columns),
                    "measured": measured,
                    "ok": bool(ok),
                    "expected": expected,
                }
            )
        return {"passed": ok_all, "rows": int(n), "expectations": results}

    def run(self, df: DataFrame) -> ValidationReport:
        """Reference ``Profile.validate`` contract: returns a report
        with ``is_success`` / ``errors``."""
        return ValidationReport(self.validate(df))

    # ------------------------------------------ serialization (≈ to_proto)
    def to_json(self) -> str:
        return json.dumps(
            [
                {
                    "kind": e.kind,
                    "column": e.column,
                    "value": e.value,
                    "columns": list(e.columns),
                    "value_hi": e.value_hi,
                    "value_set": list(e.value_set),
                    "quantile": e.quantile,
                }
                for e in self.expectations
            ]
        )

    @classmethod
    def from_json(cls, s: str) -> "ValidationProfile":
        return cls(
            [
                Expect(
                    kind=d["kind"],
                    column=d.get("column"),
                    value=d.get("value"),
                    columns=tuple(d.get("columns") or ()),
                    value_hi=d.get("value_hi"),
                    value_set=tuple(d.get("value_set") or ()),
                    quantile=d.get("quantile"),
                )
                for d in json.loads(s)
            ]
        )


_NUMERIC_TYPES = {"byte", "short", "integer", "long", "float", "double", "decimal"}


@dataclass
class DatasetProfiler:
    """Derive a ``ValidationProfile`` from a reference dataset — the
    great-expectations auto-profiler reimagined as ONE Spark
    aggregation (reference GEProfiler.analyze_dataset,
    ge_profiler.py:115-170, which round-trips the frame through a
    driver-side PandasDataset; at 100 TB the observation pass must stay
    distributed).

    Derived expectations (per the GE UserConfigurableProfiler shape):

    * table: ``columns_ordered`` (schema drift),
      ``row_count_between`` (±``row_count_slack``),
    * numeric columns: ``min_at_least`` / ``max_at_most`` widened by
      ``numeric_tolerance`` × observed range, ``mean_between``
      (mean ± max(tolerance × range, observed stddev)),
      ``quantile_between`` at each of ``quantiles`` (default quartiles;
      observed ± tolerance × range — shape drift the mean/stddev pair
      misses, e.g. a symmetric bimodal shift), ``stddev_at_most``
      (2× observed + range tolerance), ``null_ratio_max``
      (observed + ``null_slack``),
    * low-cardinality non-numeric columns (≤ ``max_value_set_size``
      distinct): ``values_in_set`` of the observed values,
      ``null_ratio_max``.

    All-NULL numeric columns get only the null-ratio expectation
    (bounds are unobservable). Columns may be restricted via
    ``columns``.
    """

    numeric_tolerance: float = 0.1
    row_count_slack: float = 0.5
    null_slack: float = 0.05
    max_value_set_size: int = 32
    columns: Sequence[str] | None = None
    quantiles: Sequence[float] = (0.25, 0.5, 0.75)

    def analyze(self, df: DataFrame) -> ValidationProfile:
        cols = list(self.columns) if self.columns is not None else list(df.columns)
        numeric = [
            c
            for c in cols
            if df.schema[c].dataType.typeName() in _NUMERIC_TYPES
        ]
        categorical_candidates = [
            c
            for c in cols
            if df.schema[c].dataType.typeName() in ("string", "boolean")
        ]
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in numeric:
            cc = F.col(c).cast("double")
            aggs += [
                F.min(cc).alias(f"__min_{c}"),
                F.max(cc).alias(f"__max_{c}"),
                F.avg(cc).alias(f"__avg_{c}"),
                F.stddev_samp(cc).alias(f"__std_{c}"),
                F.avg(F.when(F.col(c).isNull(), 1.0).otherwise(0.0)).alias(f"__nul_{c}"),
            ]
            if self.quantiles:
                aggs.append(
                    F.percentile_approx(
                        cc,
                        F.array(*[F.lit(float(q)) for q in self.quantiles]),
                        F.lit(10000),
                    ).alias(f"__qnt_{c}")
                )
        for c in categorical_candidates:
            aggs += [
                F.approx_count_distinct(c, 0.02).alias(f"__acd_{c}"),
                F.avg(F.when(F.col(c).isNull(), 1.0).otherwise(0.0)).alias(f"__nul_{c}"),
            ]
        row = df.agg(*aggs).first()
        n = int(row["__n"])

        # columns_ordered pins the FULL frame schema — only meaningful
        # when the whole frame was profiled; under a `columns`
        # restriction the caller validates frames that intentionally
        # carry just those columns, so schema pinning would reject
        # conforming data
        ex: list[Expect] = []
        if self.columns is None:
            ex.append(Expect("columns_ordered", columns=tuple(df.columns)))
        ex.append(
            Expect(
                "row_count_between",
                value=max(0.0, n * (1 - self.row_count_slack)),
                # None = unbounded (an empty reference observes no
                # ceiling); float("inf") would also break to_json —
                # RFC 8259 has no Infinity literal
                value_hi=n * (1 + self.row_count_slack) if n else None,
            )
        )
        for c in numeric:
            lo, hi = row[f"__min_{c}"], row[f"__max_{c}"]
            nul = float(row[f"__nul_{c}"] or 0.0)
            ex.append(Expect("null_ratio_max", column=c, value=min(1.0, nul + self.null_slack)))
            if lo is None:  # all NULL — bounds unobservable
                continue
            mean, std = row[f"__avg_{c}"], row[f"__std_{c}"] or 0.0
            rng = (hi - lo) or max(abs(hi), 1.0)
            tol = self.numeric_tolerance * rng
            ex += [
                Expect("min_at_least", column=c, value=lo - tol),
                Expect("max_at_most", column=c, value=hi + tol),
                Expect(
                    "mean_between",
                    column=c,
                    value=mean - max(tol, std),
                    value_hi=mean + max(tol, std),
                ),
                Expect("stddev_at_most", column=c, value=2 * std + tol),
            ]
            if self.quantiles:
                for q, qv in zip(self.quantiles, row[f"__qnt_{c}"]):
                    ex.append(
                        Expect(
                            "quantile_between",
                            column=c,
                            quantile=float(q),
                            value=float(qv) - tol,
                            value_hi=float(qv) + tol,
                        )
                    )
        # exact small value sets: one bounded job per low-cardinality
        # candidate (estimate pre-filtered — never a full-column collect)
        for c in categorical_candidates:
            nul = float(row[f"__nul_{c}"] or 0.0)
            ex.append(Expect("null_ratio_max", column=c, value=min(1.0, nul + self.null_slack)))
            if int(row[f"__acd_{c}"]) <= self.max_value_set_size * 1.2:
                got = collect_bounded(df.select(c).dropna().distinct(), self.max_value_set_size)
                vals = [] if got is None else got.column(0).to_pylist()
                # all-NULL column -> vals == []: the set is unobservable
                # (an empty value_set would fail EVERY future non-null
                # value), mirror the numeric all-NULL skip
                if vals:
                    ex.append(Expect("values_in_set", column=c, value_set=tuple(sorted(map(str, vals))) if all(isinstance(v, str) for v in vals) else tuple(vals)))
        return ValidationProfile(ex)


@dataclass
class ValidationReference:
    """A named, serializable profile handle — the reference's
    ``ValidationReference`` (saved_dataset.py) ties a saved dataset to
    a profiler; here it ties a profile (usually
    ``DatasetProfiler.analyze`` over ``SavedDataset.to_spark_df``) to a
    name for the retrieval gate."""

    name: str
    profile: ValidationProfile

    @classmethod
    def from_saved_dataset(
        cls, spark, saved, name: str | None = None, profiler: "DatasetProfiler | None" = None
    ) -> "ValidationReference":
        profiler = profiler or DatasetProfiler()
        return cls(
            name=name or f"{saved.metadata.name}_profile",
            profile=profiler.analyze(saved.to_spark_df(spark)),
        )


class ValidationError(RuntimeError):
    pass


def validate_or_raise(df: DataFrame, profile: ValidationProfile) -> dict:
    report = profile.validate(df)
    if not report["passed"]:
        failing = [r for r in report["expectations"] if not r["ok"]]
        raise ValidationError(f"validation failed: {failing}")
    return report
