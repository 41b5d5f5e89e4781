"""The two workloads.  Each op is one unit of user work, timed end to end
by ``run.py``; the workload builds its inputs, runs and checks an op,
installs its trace wrappers, and turns spans into per-layer numbers."""

from __future__ import annotations

import contextlib
import io
import json
import random
import shutil
import statistics
from pathlib import Path

from perfbench import checks, inputs, spans


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class EtlDocs:
    """``cli.main([..., "--fixture-json", doc])`` on one seeded document."""

    name = "etl_docs"
    warmup_ops = 1

    def __init__(self, work: Path) -> None:
        self.work = work

    def make_inputs(self, seed: int) -> None:
        tables, self.planted = inputs.etl_document(random.Random(seed))
        self.fixture = self.work / "document.json"
        self.fixture.write_text(json.dumps(tables))
        self.rows_per_op = sum(len(r) for r in self.planted.rows.values())

    def op(self, spark, i: int, tracer: spans.Tracer):
        """Run one op; returns the untimed check, which returns problems."""
        from idn_area_etl_spark import cli

        dest = self.work / "out" / f"op{i}"
        with contextlib.redirect_stdout(io.StringIO()):
            rc = cli.main([
                "document.pdf", "-d", str(dest), "-o", "doc",
                "--fixture-json", str(self.fixture),
            ])

        def check() -> list[str]:
            if rc != 0:
                return [f"cli exited {rc}"]
            problems = checks.check_etl(checks.read_entity_csvs(dest, "doc"), self.planted)
            shutil.rmtree(dest)
            return problems

        return check

    def final_check(self, spark) -> list[str]:
        return []

    def install(self, tracer: spans.Tracer) -> None:
        from idn_area_etl_spark import cli
        from idn_area_etl_spark.operators import area, island

        chunked = cli.chunked

        def counted_chunks(seq, size):
            chunks = list(chunked(seq, size))
            tracer.count("cli.chunks", len(chunks))
            return iter(chunks)

        tracer.patch(cli, "chunked", counted_chunks)
        tracer.wrap(cli, "raw_from_cell_grids", "sources.raw_from_cell_grids")
        tracer.wrap(cli, "extract_all", "operators.registry.extract_all")
        tracer.wrap(area, "extract_areas", "operators.area.extract_areas")
        tracer.wrap(island, "extract_islands", "operators.island.extract_islands")
        tracer.wrap(
            cli, "write_all_entities", "writer.write_all_entities",
            counter=lambda counts: sum(c for c in counts.values() if c > 0),
        )

    def layers(self, tracer, ops, spark_op) -> dict[str, float]:
        per_op = []
        for op in ops:
            tasks = spark_op(op)["tasks"]
            rows = tracer.counts[(op, "writer.write_all_entities")]
            per_op.append({
                "cli.chunks": tracer.counts[(op, "cli.chunks")],
                "sources.raw_from_cell_grids_s": tracer.seconds(op, "sources.raw_from_cell_grids"),
                "operators.registry.extract_all_s": tracer.seconds(op, "operators.registry.extract_all"),
                "operators.area.extract_areas_s": tracer.seconds(op, "operators.area.extract_areas"),
                "operators.island.extract_islands_s": tracer.seconds(op, "operators.island.extract_islands"),
                "writer.write_all_entities_s": tracer.seconds(op, "writer.write_all_entities"),
                "writer.rows": rows,
                "writer.rows_per_task": rows / tasks if tasks else 0.0,
            })
        return {k: median(o[k] for o in per_op) for k in per_op[0]}


#: the mix: the curate CLI plus document specs whose DuckDB oracle stays
#: cheap at CORPUS_DOCS (d_minhash_verified's all-pairs oracle takes
#: minutes there; curate's fuzzy mode runs the same minhash_verified_pairs)
CORPUS_SPECS = ["p_curation_pipeline", "d_dedup_exact", "d_dsir_weights"]
CORPUS_DOCS = 500


class CorpusMix:
    """One pass over a seeded corpus: ``curate.main(... --mode fuzzy)``
    and each spec of ``CORPUS_SPECS`` (builder call plus noop write), in
    seed-shuffled order."""

    name = "corpus_mix"
    #: the second pass still runs about 25% slower than later ones
    warmup_ops = 2

    def __init__(self, work: Path) -> None:
        self.work = work

    def make_inputs(self, seed: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = random.Random(seed)
        cols, self.n_originals = inputs.corpus(rng, CORPUS_DOCS)
        self.data = self.work / "data"
        self.data.mkdir(exist_ok=True)
        self.docs_path = self.data / "documents.parquet"
        pq.write_table(pa.table(cols), self.docs_path)
        self.rows_per_op = CORPUS_DOCS
        self.order = ["curate", *CORPUS_SPECS]
        rng.shuffle(self.order)

    def op(self, spark, i: int, tracer: spans.Tracer):
        """Run one pass; returns the untimed check, which returns problems."""
        from idn_area_etl_spark import curate
        from idn_area_etl_spark.plans import all_specs

        specs = all_specs()
        out = self.work / "out" / f"curated{i}"
        stdout = io.StringIO()
        for action in self.order:
            if action == "curate":
                with tracer.span("curate.main"), contextlib.redirect_stdout(stdout):
                    rc = curate.main([str(self.docs_path), str(out), "--mode", "fuzzy"])
            else:
                with tracer.span(f"plans.{action}.build"):
                    df = specs[action].builder(spark, str(self.data))
                with tracer.span(f"plans.{action}.exec"):
                    df.write.format("noop").mode("overwrite").save()

        def check() -> list[str]:
            if rc != 0:
                return [f"curate exited {rc}"]
            stats = json.loads(stdout.getvalue().strip().splitlines()[-1])
            tracer.count("curate.kept", stats["kept"])
            tracer.count("curate.input_docs", stats["input_docs"])
            shutil.rmtree(out)
            return checks.check_curate(stats, CORPUS_DOCS, self.n_originals)

        return check

    def final_check(self, spark) -> list[str]:
        """Each spec's result against its DuckDB oracle, normalised by
        ``tools/check_oracle.py``; a spec without an oracle must return
        rows."""
        import duckdb

        from idn_area_etl_spark.plans import all_specs
        from tools.check_oracle import canonical

        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{self.docs_path}'")
        problems = []
        specs = all_specs()
        for name in CORPUS_SPECS:
            df = specs[name].builder(spark, str(self.data))
            got = canonical([tuple(r) for r in df.collect()], df.columns)
            want = None
            if specs[name].oracle is not None:
                rel = con.sql(specs[name].oracle)
                want = canonical(rel.fetchall(), rel.columns)
            problems += checks.check_query(name, got, want)
        con.close()
        return problems

    def install(self, tracer: spans.Tracer) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from idn_area_etl_spark import curate

        tracer.wrap(curate, "curate", "curate.curate")
        tracer.wrap(DataFrameWriter, "parquet", "curate.write")

    def layers(self, tracer, ops, spark_op) -> dict[str, float]:
        per_op = []
        input_bytes = self.docs_path.stat().st_size
        for op in ops:
            out = {}
            for kind in ("build", "exec"):
                total = jobs = 0.0
                for name in CORPUS_SPECS:
                    secs = tracer.seconds(op, f"plans.{name}.{kind}")
                    out[f"plans.{name}.{kind}_s"] = secs
                    total += secs
                    jobs += spark_op(op, f"plans.{name}.{kind}")["jobs"]
                out[f"plans.{kind}_s"] = total
                out[f"plans.{kind}_jobs"] = jobs
            write = spark_op(op, "curate.write")
            main = tracer.op_spans(op, "curate.main")
            writes = tracer.op_spans(op, "curate.write")
            out.update({
                "curate.curate_s": tracer.seconds(op, "curate.curate"),
                "curate.write_s": tracer.seconds(op, "curate.write"),
                "curate.readback_s": (
                    main[-1]["end"] - writes[-1]["end"] if main and writes else 0.0
                ),
                "curate.kept_frac": (
                    tracer.counts[(op, "curate.kept")] / tracer.counts[(op, "curate.input_docs")]
                    if tracer.counts[(op, "curate.input_docs")] else 0.0
                ),
                "sink.bytes_per_input_byte": write["outputBytes"] / input_bytes,
            })
            per_op.append(out)
        return {k: median(o[k] for o in per_op) for k in per_op[0]}


WORKLOADS = {w.name: w for w in (EtlDocs, CorpusMix)}
