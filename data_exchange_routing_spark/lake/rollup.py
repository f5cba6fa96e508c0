"""Incremental rollup views: per-epoch PARTIAL aggregates, merge-on-read
combine — the hypertable-continuous-aggregate shape over this repo's lake.

Maintaining an aggregate table across a CDC/event stream must not re-scan
history: each epoch appends only its own partial sums per group (O(batch)),
the reader finishes the fold with one small groupBy over the stored partials
(O(#groups x #epochs-since-compaction)), and ``compact()`` periodically
merges partials back to one row per group. Epoch idempotency rides the same
snapshot guard as every other table, so at-least-once redelivery of a batch
cannot double-count.

Supported aggregate kinds (all decomposable: partial per epoch, re-aggregable
at read): count, sum, min, max — avg derives as sum/count at read time — and
approx_distinct: a mergeable DataSketches HLL sketch per epoch
(``hll_sketch_agg``), union-folded at read (``hll_union_agg``) and finished
to an estimate (``hll_sketch_estimate``). Sketch union is associative, so
the incrementally-maintained estimate is bit-identical to a one-shot sketch
over the full history (asserted in tests) while each epoch still appends
only O(#groups) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_exchange_routing_spark.lake.table import LakeTable

_KINDS = {"count", "sum", "min", "max", "approx_distinct", "histogram"}
_REAGG = {
    "count": F.sum,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "approx_distinct": F.hll_union_agg,
}


class RollupView:
    """An incrementally-maintained GROUP BY view stored as a lake table.

    ``group_by``: grouping column names; ``aggs``: {out_col: (kind, in_col)}
    with kind in {count,sum,min,max} (for count, in_col is ignored).
    """

    def __init__(self, spark: SparkSession, path: str, group_by: list[str], aggs: dict):
        for out, spec in aggs.items():
            kind = spec[0]
            if kind not in _KINDS:
                raise ValueError(f"{out}: unsupported aggregate kind {kind!r}")
            if kind == "histogram" and (len(spec) != 3 or len(spec[2]) != 3):
                raise ValueError(
                    f"{out}: histogram spec is ('histogram', col, (lo, hi, k))"
                )
        self.spark = spark
        self.group_by = list(group_by)
        self.aggs = dict(aggs)
        self.table = LakeTable(spark, path)

    @classmethod
    def create(cls, spark, path, group_by, aggs, batch_schema: T.StructType) -> "RollupView":
        view = cls(spark, path, group_by, aggs)
        sample = spark.createDataFrame([], batch_schema)
        partial_schema = view._partials(sample).schema
        LakeTable.create(spark, path, partial_schema)  # unkeyed: plain appends
        return view

    @classmethod
    def load(cls, spark, path, group_by, aggs) -> "RollupView":
        view = cls(spark, path, group_by, aggs)
        LakeTable.load(spark, path)
        return view

    def _exprs(self):
        from data_exchange_routing_spark.functions.sketch import histogram_bin

        out = []
        for name, spec in self.aggs.items():
            kind, col = spec[0], spec[1]
            if kind == "count":
                out.append(F.count(F.lit(1)).alias(name))
            elif kind == "approx_distinct":
                out.append(F.hll_sketch_agg(F.col(col)).alias(name))
            elif kind == "histogram":
                lo, hi, k = spec[2]
                b = histogram_bin(F.col(col), lo, hi, k)
                # k+2 conditional sums, one agg, map-side combinable — the
                # partial is an array<long> that merges by elementwise add
                out.append(
                    F.array(
                        *[
                            F.sum(F.when(b == i, 1).otherwise(0)).cast("long")
                            for i in range(k + 2)
                        ]
                    ).alias(name)
                )
            else:
                out.append(getattr(F, kind)(F.col(col)).alias(name))
        return out

    def _partials(self, batch: DataFrame) -> DataFrame:
        return batch.groupBy(*self.group_by).agg(*self._exprs())

    def apply_epoch(self, batch: DataFrame, epoch_id: int, source: str = "rollup") -> dict:
        """Fold one micro-batch into the view: ONE aggregation over the batch,
        one appended delta of #groups rows. Idempotent per (source, epoch)."""
        return self.table.append(self._partials(batch), epoch_id=epoch_id, source=source)

    def _folded_partials(self) -> DataFrame:
        """Stored partials folded to one row per group, KEEPING the partial
        representation (sketches stay binary/mergeable) — the compaction
        form, not the user-facing finished aggregate."""
        parts = self.table.read()
        aggs = []
        for name, spec in self.aggs.items():
            kind = spec[0]
            if kind == "histogram":
                k = spec[2][2]
                aggs.append(
                    F.array(*[F.sum(F.col(name)[i]) for i in range(k + 2)]).alias(name)
                )
            else:
                aggs.append(_REAGG[kind](F.col(name)).alias(name))
        return parts.groupBy(*self.group_by).agg(*aggs)

    def read(self) -> DataFrame:
        """The finished aggregate: re-aggregate stored partials (count and
        sum re-fold with sum; min/max with min/max; HLL sketches union-fold
        and finish to a long estimate)."""
        folded = self._folded_partials()
        finish = [
            F.hll_sketch_estimate(F.col(name)).alias(name)
            if spec[0] == "approx_distinct"
            else F.col(name)
            for name, spec in self.aggs.items()
        ]
        return folded.select(*self.group_by, *finish)

    def quantile(self, name: str, q: float) -> DataFrame:
        """Per-group quantile estimate from a maintained histogram column —
        a pure expression scan over the folded k+2-long arrays (linear
        interpolation inside the containing bin, under/overflow clamped to
        the range edges; error <= one bin width). No extra data pass beyond
        the partial fold itself."""
        spec = self.aggs[name]
        if spec[0] != "histogram":
            raise ValueError(f"{name!r} is not a histogram aggregate")
        lo, hi, k = spec[2]
        span = (hi - lo) or 1.0
        counts = F.col(name)
        total = F.aggregate(counts, F.lit(0).cast("long"), lambda a, x: a + x)
        target = F.lit(q) * total.cast("double")
        entries = F.zip_with(
            F.sequence(F.lit(0), F.lit(k + 1)),
            counts,
            lambda b, c: F.struct(b.alias("b"), c.alias("c")),
        )

        def step(acc, e):
            c = e["c"].cast("double")
            b = e["b"].cast("double")
            left = F.lit(lo) + (b - 1) * F.lit(span / k)
            val = (
                F.when(e["b"] == 0, F.lit(float(lo)))
                .when(e["b"] == k + 1, F.lit(float(hi)))
                .otherwise(left + ((target - acc["run"]) / c) * F.lit(span / k))
            )
            hit = acc["ans"].isNull() & (c > 0) & (acc["run"] + c >= target)
            return F.struct(
                (acc["run"] + c).alias("run"),
                F.coalesce(acc["ans"], F.when(hit, val)).alias("ans"),
            )

        acc0 = F.struct(
            F.lit(0.0).alias("run"), F.lit(None).cast("double").alias("ans")
        )
        est = F.aggregate(entries, acc0, step)["ans"]
        return self._folded_partials().select(*self.group_by, est.alias(f"{name}_q{q}"))

    def compact(self) -> dict:
        """Merge all partials into one row per group (append-only table:
        rewrite via a fresh commit of the folded state, then vacuum via the
        usual snapshot expiry)."""
        folded = self._folded_partials()
        snap = self.table.snapshot()
        staged = self.table._stage_files(
            self.table._align(folded, snap.schema()), snap, snap.version + 1, bucketed=False
        )
        for f in staged:
            f["kind"] = "base"
        new = snap.successor(summary={"operation": "rollup-compact"})
        new.replace_files(staged)
        try:
            self.table._write_snapshot(new)
        except FileExistsError:
            return {"skipped": True, "reason": "commit-conflict"}
        return {"skipped": False, "version": new.version}
