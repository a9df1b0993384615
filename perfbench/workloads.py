"""The benchmark's workloads: inputs made from the seed, the operation mix,
and the checks of the engine's outputs.

Query inputs come from the engine's own seeded ``synthetic_documents``
source at the sf0.1 grain (5k documents); the SIGA CSV from a seeded
generator in the reference dialect.  The seed also fixes the order of the
operations in a lap.
"""

from __future__ import annotations

import csv
import hashlib
import os
import random
import shutil
import sys
import traceback

DOCUMENTS = 5_000
SIGA_ROWS = 50_000

# workload -> the registry queries one lap runs
QUERY_MIXES = {
    "llm_curation": ("q_bpe_train_rounds", "q_heavy_hitters", "q_dedup_exact"),
}
WORKLOADS = (*QUERY_MIXES, "siga_etl")
# Whole laps run before the timed window.  Lap times fall for several laps
# in a fresh JVM (class loading, code generation, JIT).  On a 4-core box
# llm_curation laps take ~14 s, 3.5 s, 3 s, then fall from 2.5 s towards
# 1.9 s; siga_etl operations take ~20 s, 8 s, then 6-7 s.
WARMUP_LAPS = {"llm_curation": 5, "siga_etl": 2}
# Lap time once warm on a 4-core box.  The window runs a FIXED number of
# laps, --seconds / this, so a slower run measures the same laps instead of
# fewer, colder ones.
NOMINAL_LAP_S = {"llm_curation": 2.5, "siga_etl": 6.0}


def lap_order(ops, seed: int) -> list:
    """The fixed op order of every lap of a run, chosen by the seed."""
    order = list(ops)
    random.Random(seed).shuffle(order)
    return order


# ---------------------------------------------------------------------------
# Query workloads
# ---------------------------------------------------------------------------


def write_source(source_cls, options: dict, path: str) -> None:
    """Rows of one of the engine's synthetic data sources, read through the
    Python DataSource API without a session, as one parquet file per
    partition (the layout a Spark write of the same source leaves)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    source = source_cls({k: str(v) for k, v in options.items()})
    reader = source.reader(source.schema())
    os.makedirs(path)
    for i, part in enumerate(reader.partitions()):
        table = pa.Table.from_batches(list(reader.read(part)))
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def generate_query_inputs(data_dir: str, seed: int, parts: int) -> None:
    """The seeded documents table the query mixes read."""
    from java_etl_bi_generator_spark.sources.synthetic import SyntheticDocumentsDataSource

    write_source(
        SyntheticDocumentsDataSource,
        {"rows": DOCUMENTS, "partitions": parts, "seed": seed},
        os.path.join(data_dir, "documents.parquet"),
    )


class OracleCheck:
    """Compares a query's rows with its DuckDB oracle on the same inputs,
    with the fingerprint the repository's parity harness uses."""

    def __init__(self, data_dir: str, threads: int):
        import duckdb

        from check_parity import frame_fingerprint
        from java_etl_bi_generator_spark.catalog import TABLES
        from java_etl_bi_generator_spark.oracles import ORACLES

        self._fingerprint = frame_fingerprint
        self._oracles = ORACLES
        self._con = duckdb.connect()
        self._con.execute(f"SET threads = {threads}")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/*.parquet')"
                )

    def check(self, name: str, df) -> str | None:
        """None when the rows match the oracle, else what differs."""
        cols = df.columns
        got = self._fingerprint(cols, [tuple(r) for r in df.collect()])
        rel = self._con.execute(self._oracles[name])
        want = self._fingerprint([d[0] for d in rel.description], rel.fetchall())
        if got[0] == 0:
            return "empty result"
        if got != want:
            return f"spark {got} != oracle {want}"
        return None

    def close(self) -> None:
        self._con.close()


class QueryWorkload:
    """A mix of registry queries over seeded documents."""

    def __init__(self, name: str, work: str, seed: int, parts: int):
        from java_etl_bi_generator_spark.queries import registry

        self.ops = QUERY_MIXES[name]
        self.queries = {q: registry()[q] for q in self.ops}
        self.data, self.parts = os.path.join(work, "data"), parts
        generate_query_inputs(self.data, seed, parts)
        self.spark = None
        self.bad: dict[str, str] = {}  # query -> why its check failed
        self._last: dict = {}  # query -> DataFrame of its latest operation

    def op(self, name: str) -> None:
        """Build the query's DataFrame and execute it fully."""
        df = self.queries[name](self.spark, self.data)
        df.write.format("noop").mode("overwrite").save()
        self._last[name] = df

    def traced_op(self, name: str, tracer) -> None:
        with tracer.span("op", query=name):
            with tracer.span("queries.build", count_untagged=True):
                df = self.queries[name](self.spark, self.data)
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.exec", count_untagged=True) as ex:
                df.write.format("noop").mode("overwrite").save()
            ex.attrs["stages"], ex.attrs["tasks"] = tracer.stage_counts(ex.jobs + ex.untagged)
        self._last[name] = df

    def after_op(self, op) -> None:
        pass

    def check(self) -> None:
        """The rows of each query's latest operation against its DuckDB oracle."""
        oracle = OracleCheck(self.data, self.parts)
        try:
            for name, df in self._last.items():
                try:
                    err = oracle.check(name, df)
                except Exception:
                    err = traceback.format_exc()
                if err:
                    self.bad[name] = err
                    print(f"check {name} failed: {err}", file=sys.stderr)
        finally:
            oracle.close()


# ---------------------------------------------------------------------------
# siga_etl: the reference program end to end
# ---------------------------------------------------------------------------

SIGA_COLUMNS = (
    "CodCEG;NomEmpreendimento;SigTipoGeracao;DscOrigemCombustivel;"
    "DscFonteCombustivel;DscFaseUsina;DscTipoOutorga;IdcGeracaoQualificada;"
    "SigUFPrincipal;DscMuninicpios;DatEntradaOperacao;MdaPotenciaOutorgadaKw;"
    "MdaPotenciaFiscalizadaKw;MdaGarantiaFisicaKw;DscPropriRegimePariticipacao"
).split(";")
SIGA_SCHEMA = ", ".join(f"{c} string" for c in SIGA_COLUMNS)
SIGA_TABLES = (
    "dim_geracao",
    "dim_status",
    "dim_localizacao",
    "dim_empreendimento",
    "dim_tempo",
    "fato_geracao",
)
_ENCODING = "ISO-8859-1"


def synthesize_siga_csv(path: str, n: int, seed: int) -> None:
    """A SIGA-shaped CSV in the reference dialect: ~10% duplicate CodCEG,
    5% empty dates, some empty qualification flags, pt-BR decimals."""
    rng = random.Random(seed)
    tipos = ["UHE", "PCH", "CGH", "EOL", "UFV", "UTE", "UTN"]
    origens = ["Hídrica", "Eólica", "Solar", "Fóssil", "Biomassa", "Nuclear"]
    fases = ["Operação", "Construção", "Construção não iniciada"]
    outorgas = ["Concessão", "Autorização", "Registro"]
    ufs = ["SP", "MG", "RS", "BA", "PR", "SC", "GO", "CE"]
    with open(path, "w", encoding=_ENCODING) as f:
        f.write(";".join(SIGA_COLUMNS) + "\n")
        for i in range(n):
            t = rng.choice(tipos)
            date = (
                ""
                if rng.random() < 0.05
                else f"{rng.randrange(1990, 2026)}-{rng.randrange(1, 13):02d}-"
                f"{rng.randrange(1, 29):02d}"
            )
            pot = f"{rng.randrange(1, 2000)}.{rng.randrange(100, 999)},{rng.randrange(10, 99)}"
            f.write(
                f"GER.{rng.randrange(n * 9 // 10):06d};Usina São {i};{t};"
                f"{rng.choice(origens)};Fonte {t};{rng.choice(fases)};"
                f"{rng.choice(outorgas)};{rng.choice(['Sim', 'Não', ''])};"
                f"{rng.choice(ufs)};Município {i % 300};{date};{pot};{pot};;"
                f"100% Empresa {i} (REG)\n"
            )


def siga_outputs(spark, csv_path: str) -> dict:
    """``read_reference_csv`` then ``siga_pipeline``: table name -> DataFrame."""
    from java_etl_bi_generator_spark.operators.star import siga_pipeline
    from java_etl_bi_generator_spark.sources.csv_ref import read_reference_csv

    out = siga_pipeline(spark, read_reference_csv(spark, csv_path, SIGA_SCHEMA))
    return {t: getattr(out, t) for t in SIGA_TABLES if getattr(out, t) is not None}


def write_siga(tables: dict, out_dir: str) -> None:
    from java_etl_bi_generator_spark.sources.csv_ref import write_reference_csv

    for name, df in tables.items():
        write_reference_csv(df, os.path.join(out_dir, name))


def read_written_table(table_dir: str) -> tuple[list[str], list[list[str]]]:
    """Header and rows of one written table, parsed without Spark."""
    header, rows = None, []
    for part in sorted(os.listdir(table_dir)):
        if not part.startswith("part-"):
            continue
        with open(os.path.join(table_dir, part), encoding=_ENCODING, newline="") as f:
            reader = csv.reader(f, delimiter=";")
            h = next(reader, None)
            if h is None:
                continue
            header = header or h
            rows.extend(reader)
    return header or [], rows


def read_siga_tables(out_dir: str) -> dict:
    """Every written table, parsed without Spark: name -> (header, rows)."""
    return {
        t: read_written_table(os.path.join(out_dir, t))
        for t in SIGA_TABLES
        if os.path.isdir(os.path.join(out_dir, t))
    }


def siga_fingerprint(tables: dict) -> str:
    """Order-insensitive hash of every written table."""
    h = hashlib.sha256()
    for name, (header, rows) in tables.items():
        h.update(name.encode())
        h.update(";".join(header).encode())
        for line in sorted(";".join(r) for r in rows):
            h.update(line.encode())
            h.update(b"\n")
    return h.hexdigest()[:16]


def check_siga(tables: dict, source_rows: int) -> list[str]:
    """Star-schema invariants of one written output; [] when all hold."""
    missing = [t for t in SIGA_TABLES if t not in tables]
    if missing:
        return [f"tables not written: {missing}"]
    errors = []

    def column(table, col):
        header, rows = tables[table]
        i = header.index(col)
        return [r[i] for r in rows]

    _, fact_rows = tables["fato_geracao"]
    if len(fact_rows) != source_rows:
        errors.append(f"fato_geracao has {len(fact_rows)} rows, source {source_rows}")
    for dim, key, sentinel in (
        ("dim_geracao", "ID_Geracao", "-1"),
        ("dim_status", "ID_Status", "-1"),
        ("dim_localizacao", "ID_Localizacao", "-1"),
        ("dim_tempo", "ChaveData", "0"),
        ("dim_empreendimento", "CodCEG", None),
    ):
        ids = column(dim, key)
        if key.startswith("ID_") and sorted(int(i) for i in ids) != list(
            range(1, len(ids) + 1)
        ):
            errors.append(f"{dim}.{key} is not dense from 1")
        fk = "FK_DataOperacao" if dim == "dim_tempo" else key
        known = set(ids)
        bad = sum(1 for v in column("fato_geracao", fk) if v not in known and v != sentinel)
        if bad:
            errors.append(f"{bad} fato_geracao.{fk} values resolve to no {dim} row")
    return errors


class SigaWorkload:
    """The reference program end to end on a seeded SIGA-shaped CSV."""

    def __init__(self, name: str, work: str, seed: int, parts: int):
        self.ops = ("siga_etl",)
        self.csv = os.path.join(work, "siga.csv")
        synthesize_siga_csv(self.csv, SIGA_ROWS, seed)
        self.out = os.path.join(work, "out")
        self.spark = None
        self.bad: dict[str, str] = {}
        self.fingerprint: str | None = None

    def op(self, name: str) -> None:
        write_siga(siga_outputs(self.spark, self.csv), self.out)

    def traced_op(self, name: str, tracer) -> None:
        with tracer.span("op"):
            self.op(name)

    def after_op(self, op) -> None:
        """Check the op's tables, then drop the cached source so the next
        op parses the CSV again, as a fresh run of the program does."""
        self.spark.catalog.clearCache()
        if op.error is None:
            tables = read_siga_tables(self.out)
            errors = check_siga(tables, SIGA_ROWS)
            fp = siga_fingerprint(tables)
            if self.fingerprint is None:
                self.fingerprint = fp
            elif fp != self.fingerprint:
                errors.append(f"fingerprint {fp} differs from the first op's {self.fingerprint}")
            if errors:
                self.bad[op.name] = "; ".join(errors)
                print(f"check {op.name} failed: {errors}", file=sys.stderr)
        shutil.rmtree(self.out, ignore_errors=True)

    def check(self) -> None:
        pass  # every operation's output is checked in after_op


def make(name: str, work: str, seed: int, parts: int):
    """The workload ``name`` with its inputs generated under ``work``."""
    cls = SigaWorkload if name == "siga_etl" else QueryWorkload
    return cls(name, work, seed, parts)
