"""The workloads. Each is one client in a closed loop.

A workload makes its inputs from the seed (``prepare``), stages what a
session needs before it serves operations (``stage``, run once per setup
repetition on a fresh session), warms up and checks what it can before the
timed region (``warm``), and then yields rounds of operations. ``run_op``
times one operation with a span around every call into the package;
``check_op`` verifies its output outside the timed region.
"""

from __future__ import annotations

import os
import random
import shutil

from perfbench import gate, inputs
from perfbench.spans import Tracer

# Fixture volume of the pipeline (empresas, estabelecimentos): ~22 MB of
# latin-1 CSV, ~2.5 s a pipeline on four cores, with the raw load still about
# half of it. 1,000,000 x 2,500,000 takes ~30 s a pipeline, and with the fixture
# generated and checked per seed it does not fit the benchmark's per-run budget.
CNPJ_SIZES = (50_000, 125_000)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class CnpjE2E:
    """Raw latin-1 drop on disk -> one BOM CSV, the paper's whole pipeline."""

    name = "cnpj_e2e"

    def prepare(self, ctx) -> dict:
        from etl_cnpjs_spark.cnpj.schemas import DIM_COLUMNS

        self.root, self.paths, manifest = inputs.cnpj_drop(ctx.cache, ctx.seed, CNPJ_SIZES)
        self.staged: list[str] = []
        self.dims = {t: self.paths[t] for t in DIM_COLUMNS}
        count, digest, self.columns = gate.cnpj_oracle_digest(self.paths)
        self.expect = (count, digest)
        return {"fixtures.gen_s": manifest["gen_s"], "fixtures.hit": manifest["hit"], "oracle_rows": count}

    def stage(self, spark, ctx, rep) -> None:
        """One pipeline. Every pipeline starts from the raw drop, so the
        JIT warm-up is all there is to set up: the first pipeline in a JVM
        runs ~3x slower than steady state, the second still ~25% slower."""
        try:
            self.staged.append(self.run_op(spark, ctx.tracer, "pipeline", f"setup-{rep}", ctx))
        except Exception as exc:  # noqa: BLE001 - marks every pipeline wrong, keeps the run's numbers
            from perfbench.run import describe

            ctx.failures["pipeline"] = describe(exc)

    def warm(self, spark, ctx) -> None:
        """Check the pipelines that ran in setup."""
        for out in self.staged:
            try:
                ctx.guard("pipeline", lambda out=out: self.check_op("pipeline", out, ctx))
            finally:
                shutil.rmtree(out, ignore_errors=True)
        self.staged = []

    def round(self, r: int) -> list[str]:
        return ["pipeline"]

    def run_op(self, spark, t: Tracer, kind: str, op, ctx) -> str:
        from etl_cnpjs_spark.cnpj import export, flagship, ingest, load

        out = ctx.fresh_dir("e2e")
        with t.span("ingest.discover", op):
            routed = ingest.discover(os.path.join(self.root, "zips"))
        with t.span("load.load_raw_parquet", op):
            table_paths = load.load_raw_parquet(spark, {**routed, **self.dims}, os.path.join(out, "raw"))
        with t.span("load.register_raw", op):
            load.register_raw(spark, table_paths)
        with t.span("flagship.build", op):
            flagship.register_affinity_views(spark)
            df = flagship.run_flagship(spark)
        with t.span("flagship.analyze", op):
            df.schema  # noqa: B018 - forces analysis
        with t.span("export.export_csv", op):
            export.export_csv(df, os.path.join(out, "parts"))
        with t.span("export.merge_single_file", op):
            export.merge_single_file(os.path.join(out, "parts"), os.path.join(out, "final.csv"))
        ctx.op_facts[op] = {
            "ingest.files": sum(len(v) for v in routed.values()),
            "raw_bytes": sum(os.path.getsize(p) for ps in (*routed.values(), *self.dims.values()) for p in ps),
            "parquet_bytes": _tree_bytes(os.path.join(out, "raw")),
            "export.output_bytes": os.path.getsize(os.path.join(out, "final.csv")),
            "export.parts": len([f for f in os.listdir(os.path.join(out, "parts")) if f.startswith("part-")]),
        }
        return out

    def check_op(self, kind: str, out: str, ctx) -> None:
        gate.check_bom_csv(os.path.join(out, "final.csv"), self.columns, self.expect)


class PlanMix:
    """A fixed sample of registry keys, each written to the noop sink."""

    name = "plan_mix"

    def __init__(self, keys: list[str]):
        self.keys = keys

    def prepare(self, ctx) -> dict:
        self.sf_dir, manifest = inputs.mix_tables(ctx.cache, ctx.seed)
        self.order = list(self.keys)
        random.Random(ctx.seed).shuffle(self.order)
        return {"fixtures.gen_s": manifest["gen_s"], "fixtures.hit": manifest["hit"]}

    def stage(self, spark, ctx, rep) -> None:
        from etl_cnpjs_spark.plans import dedup
        from etl_cnpjs_spark.plans.cnpj_parity import ensure_cnpj_env

        sf, t = self.sf_dir, ctx.tracer
        with t.span("staging.cnpj_env", rep):
            ensure_cnpj_env(spark, sf)
        with t.span("staging.doc_shingles", rep):
            dedup._doc_shingles(spark, sf)
        with t.span("staging.exact_pairs", rep):
            dedup._exact_pairs(spark, sf)
        with t.span("staging.banded8x2", rep):
            dedup._banded8x2(spark, sf)
        with t.span("staging.arrow_warm", rep):
            _noop(spark.range(1).mapInPandas(lambda it: it, "id long"))

    def warm(self, spark, ctx) -> None:
        """One pass that collects and checks every key; also the warm-up."""
        import duckdb

        from etl_cnpjs_spark.catalog import TESTDATA_TABLES, table_path
        from etl_cnpjs_spark.plans import QUERIES

        con = duckdb.connect()
        try:
            for tb in TESTDATA_TABLES:
                con.execute(f"CREATE VIEW {tb} AS SELECT * FROM read_parquet('{table_path(self.sf_dir, tb)}')")
            for key in self.order:
                spec = QUERIES[key]
                if spec.oracle is None:
                    ctx.guard(key, lambda spec=spec: spec.fn(spark, self.sf_dir).count())
                else:
                    ctx.guard(key, lambda spec=spec, key=key: gate.check_frame(spec.fn(spark, self.sf_dir), con, spec.oracle, key))
        finally:
            con.close()

    def round(self, r: int) -> list[str]:
        return self.order

    def run_op(self, spark, t: Tracer, kind: str, op, ctx) -> None:
        from etl_cnpjs_spark.plans import QUERIES

        with t.span("plans.construct", op):
            df = QUERIES[kind].fn(spark, self.sf_dir)
        with t.span("plans.analyze", op):
            df.schema  # noqa: B018 - forces analysis
        with t.span("plans.execute", op):
            _noop(df)

    def check_op(self, kind: str, out, ctx) -> None:
        pass  # each key was checked in warm()


def _tree_bytes(root: str) -> int:
    """Bytes of the data files under root (Spark's _SUCCESS and .crc files excluded)."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs if not f.startswith((".", "_"))
    )
