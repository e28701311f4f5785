"""Workload passes and their output checks.

Each pass runs in a fresh data directory with a freshly named Pipeline
subclass and Model subclass: `Pipeline` classes are process singletons
and model names are suffix-matched, so reusing a class would reuse the
previous pass's store and paths.

Layer spans come from the benchmark's own subclasses and hooks, through
the package's public surface only:
- sync `pre_extract`/`pre_transform`/`pre_load` hooks that mark stage
  starts (the `pre_transform` hook also raises `StopPipeline` for the
  objects the generator marked to stall);
- a `MetadataStore` subclass, passed through `store=`, that times
  `upsert` and counts the bytes each store rewrite writes;
- a `Model` subclass whose `transform` times the projection build.
"""

from __future__ import annotations

import itertools
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from flask_data_pipes_spark.exceptions import StopPipeline
from flask_data_pipes_spark.functions import scalars as S
from flask_data_pipes_spark.models import Model, fields
from flask_data_pipes_spark.pipeline import MetadataStore, Pipeline, decorators
from flask_data_pipes_spark.session import EngineConfig
from flask_data_pipes_spark.sources.upload import ingest_upload

from spans import NULL_TRACER, LineStageTracer

_class_ids = itertools.count()


class TimedStore(MetadataStore):
    """Metadata store that opens a span around every upsert. Every
    upsert and model registration rewrites its whole JSONL file; the
    file's size after each call is added to `bytes_written`."""

    tracer = NULL_TRACER
    upserts = 0
    bytes_written = 0

    def _written(self, filename: str) -> None:
        self.bytes_written += os.path.getsize(os.path.join(self.root, filename))

    def upsert(self, *args, **kwargs):
        self.upserts += 1
        with self.tracer.span("pipeline.state_upsert"):
            row = super().upsert(*args, **kwargs)
        self._written("data_objects.jsonl")
        return row

    def register_model(self, *args, **kwargs):
        row = super().register_model(*args, **kwargs)
        self._written("data_models.jsonl")
        return row


class TimedModel(Model):
    """Model base whose transform opens a span around the projection
    build (plan construction only; execution happens in the writes)."""

    tracer = NULL_TRACER

    @classmethod
    def transform(cls, df):
        with cls.tracer.span("models.build"):
            return super().transform(df)


def _event_fields() -> dict:
    """The ETL model: projection over the reference vocabulary plus the
    denormalized tag list, which explodes to one row per tag."""
    return dict(
        __directory__="events",
        __filename__="events",
        __table__="events",
        event_id=fields.Integer(),
        ts=fields.DateTime(),
        user_id=fields.Integer(),
        event_type=fields.UppercaseString(),
        value=fields.Float(),
        hostname=fields.HostName(),
        active=fields.Boolean(),
        note=fields.Function(lambda df: S.recast_null(F.col("note"))),
        tags=fields.DenormalizedList(fields.String()),
    )


def _document_fields() -> dict:
    """The corpus model: the `documents` table columns, loaded to a
    parquet table the curation pipeline reads as `documents`."""
    return dict(
        __directory__="documents",
        __filename__="documents",
        __table__="documents.parquet",
        doc_id=fields.Integer(),
        text=fields.String(),
        lang=fields.String(),
        source=fields.String(),
        n_chars=fields.Integer(),
    )


MODEL_FIELDS = {"Event": _event_fields, "Document": _document_fields}


def make_model(name: str, tracer=NULL_TRACER) -> type:
    """A freshly named model class. Fields are declared on the class
    itself, not inherited: `ModelMeta` finds the denormalized field
    among the class's own attributes only, so a subclass of a model
    with a `DenormalizedList` would load without the explode."""
    n = next(_class_ids)
    return type(f"{name}M{n}", (TimedModel,), {"tracer": tracer, **MODEL_FIELDS[name]()})


class BenchPipeline(Pipeline):
    """upload (via sources) → extract → transform → load, with
    timestamp-only sync pre-hooks."""

    extract = True
    transform = True
    load = True

    tracer = NULL_TRACER
    stall_next = False

    @decorators.pre_extract
    def mark_extract(self, meta_list):
        self.tracer.stage("pipeline.extract")
        return meta_list

    @decorators.pre_transform
    def mark_transform(self, meta_list):
        self.tracer.stage("pipeline.transform")
        if self.stall_next:
            self.stall_next = False
            raise StopPipeline("stalled after extract")
        return meta_list

    @decorators.pre_load
    def mark_load(self, meta_list):
        self.tracer.stage("pipeline.load")
        return meta_list


@dataclass
class PassResult:
    data_dir: str
    model: type
    store: TimedStore
    seconds: float = 0.0
    cpu_seconds: float = 0.0
    object_latencies: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    attempted: int = 0
    funnel: list | None = None


def etl_pass(spark, inputs, pass_dir: str, model_name: str, tracer, status=None) -> PassResult:
    """Upload and advance every object, one at a time, then finish the
    stalled ones with `restart_stalled()`. `status` (traced passes
    only) is read after every object so no job ages out of the store."""
    model = make_model(model_name, tracer)
    n = next(_class_ids)
    pipeline_cls = type(f"BenchPipelineP{n}", (BenchPipeline,), {"tracer": tracer})
    config = EngineConfig(data_dir=os.path.join(pass_dir, "data"))
    store = TimedStore(os.path.join(config.data_dir, "_metadata"))
    store.tracer = tracer
    pipe = pipeline_cls(model=model, spark=spark, config=config, store=store)
    pipe.register_model(model)
    result = PassResult(config.data_dir, model, store)
    for path, stall in zip(inputs.paths, inputs.stall):
        result.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("sources.upload"):
                meta = ingest_upload(path, model, config.upload_dir, store=store)
            pipe.stall_next = stall
            with tracer.span("pipeline.advance"):
                try:
                    pipe.advance(meta["pkey"])
                except StopPipeline:
                    if not stall:
                        raise
        except Exception as exc:  # noqa: BLE001 — counted, reported, run goes on
            result.failures.append(f"{os.path.basename(path)}: {type(exc).__name__}: {exc}")
        result.object_latencies.append(time.perf_counter() - t0)
        if status is not None:
            status()
    with tracer.span("pipeline.resume"):
        try:
            pipe.restart_stalled()
        except Exception as exc:  # noqa: BLE001
            result.failures.append(f"restart_stalled: {type(exc).__name__}: {exc}")
    if status is not None:
        status()
    return result


# Source anchors that split llm_pipeline_e2e into its eight stages.
E2E_ANCHORS = (
    ("n_input = d.count()", "clean"),
    ("ld = (", "line_dedup"),
    ("mh = minhash_dedup_keep(", "minhash"),
    ("train = mh.where", "split"),
    ("test = d.where", "decontaminate"),
    ("if lm_vocab_path is not None", "perplexity"),
    ("enc = unigram_encode_ids(", "encode"),
    ("packed = (", "pack"),
    ("finally:", None),
)
E2E_STAGES = tuple(stage for _, stage in E2E_ANCHORS if stage)


def curation_pass(spark, inputs, pass_dir: str, tracer, status=None) -> PassResult:
    """Ingest the corpus through the ETL pipeline, then run the
    curation pipeline over the loaded `documents` table."""
    from flask_data_pipes_spark.plans.catalog_llm import llm_pipeline_e2e

    result = etl_pass(spark, inputs, pass_dir, "Document", tracer, status)
    result.attempted += 1
    with tracer.span("plans.llm_pipeline_e2e"):
        try:
            if tracer.enabled:
                with LineStageTracer(tracer, llm_pipeline_e2e, E2E_ANCHORS, "operators").active():
                    report = llm_pipeline_e2e(spark, os.path.join(result.data_dir, "load"))
            else:
                report = llm_pipeline_e2e(spark, os.path.join(result.data_dir, "load"))
            result.funnel = [tuple(r) for r in report.orderBy("stage_idx").collect()]
        except Exception as exc:  # noqa: BLE001
            result.failures.append(f"llm_pipeline_e2e: {type(exc).__name__}: {exc}")
    if status is not None:
        status()
    return result


# --- output checks (never inside a timed pass) ------------------------------


def table_digest(df) -> tuple:
    """Order-insensitive digest: sorted schema, row count and the sum of
    per-row 64-bit hashes."""
    cols = sorted(df.columns)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    schema = tuple(sorted((f.name, f.dataType.simpleString()) for f in df.schema.fields))
    return schema, row["n"], str(row["h"])


def reference_digest(spark, inputs, model_name: str) -> tuple:
    """`Model.transform` applied directly to the generated records."""
    return table_digest(make_model(model_name).transform(spark.read.json(inputs.paths)))


def check_etl_pass(spark, result: PassResult, inputs, expected: tuple) -> list[str]:
    """Loaded parquet equals the reference digest; every object's state
    row, as persisted on disk, is `pipeline_completed`."""
    problems = []
    rows = MetadataStore(result.store.root).objects
    if len(rows) != len(inputs.paths):
        problems.append(f"{len(rows)} state rows for {len(inputs.paths)} objects")
    incomplete = [r["pkey"] for r in rows if not r.get("pipeline_completed")]
    if incomplete:
        problems.append(f"objects not pipeline_completed: {incomplete}")
    table = os.path.join(result.data_dir, "load", result.model.__table__)
    try:
        got = table_digest(spark.read.parquet(table))
    except Exception as exc:  # noqa: BLE001 — a missing table is a failed check
        return problems + [f"loaded table unreadable: {type(exc).__name__}: {exc}"]
    if got != expected:
        problems.append(f"loaded table digest {got[1:]} != reference {expected[1:]}")
        if got[0] != expected[0]:
            problems.append(f"schema {got[0]} != {expected[0]}")
    return problems


def check_funnel(funnel: list | None, n_input: int) -> list[str]:
    """The funnel starts from every generated document, never grows and
    ends non-empty."""
    if not funnel:
        return ["no funnel"]
    docs = [row[2] for row in funnel]
    if docs[0] != n_input:
        return [f"funnel starts from {docs[0]} documents, {n_input} were generated"]
    if any(b > a for a, b in zip(docs, docs[1:])):
        return [f"funnel increases: {docs}"]
    if docs[-1] <= 0:
        return [f"funnel empties: {docs}"]
    return []


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under `path`, skipping Spark's sidecars."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith(".") or name.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total, files


def bytes_written(result: PassResult) -> int:
    """Bytes a pass wrote under its data directory: every file Spark and
    the upload left there (sidecars included; nothing is overwritten or
    deleted within a pass), plus every rewrite of the metadata store."""
    store_dir = os.path.abspath(result.store.root)
    total = 0
    for root, _dirs, names in os.walk(result.data_dir):
        if os.path.abspath(root) == store_dir:
            continue
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total + result.store.bytes_written
