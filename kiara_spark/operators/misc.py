"""Misc core modules: logic gates, mock, pretty-print, metadata extraction,
multimodal column plumbing.

- logic.* mirror the reference's test modules (the logic pipelines in
  ``tests/resources/pipelines/logic/``) — they exercise scalar values,
  required-input validation and pipeline wiring.
- ``mock`` mirrors ``included_core_modules/mock.py:75-130`` (canned outputs).
- ``pretty_print`` / ``value.extract_metadata`` mirror the render/profiling
  seams (``pretty_print.py:35-191``, ``metadata.py:26-88``) — profiling runs
  as a real Spark job (count/min/max/nulls), never a collect of data rows.
- multimodal.* : image/audio/video as opaque binary columns + typed metadata;
  decode is stubbed (no codec libs in this container) but the Spark plumbing
  (schema, mapInPandas batch shape, partitioning) is real — see
  ``decode_image_stub``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..modules import KiaraModule, ModuleCharacteristics
from ..operations import Operation
from ..values import ValueMap


class LogicAnd(KiaraModule):
    _module_type_name = "logic.and"

    def create_inputs_schema(self):
        return {"a": {"type": "boolean"}, "b": {"type": "boolean"}}

    def create_outputs_schema(self):
        return {"y": {"type": "boolean"}}

    def process(self, inputs: ValueMap, context):
        return {"y": bool(inputs["a"].data and inputs["b"].data)}


class LogicOr(LogicAnd):
    _module_type_name = "logic.or"

    def process(self, inputs: ValueMap, context):
        return {"y": bool(inputs["a"].data or inputs["b"].data)}


class LogicXor(LogicAnd):
    _module_type_name = "logic.xor"

    def process(self, inputs: ValueMap, context):
        return {"y": bool(inputs["a"].data) != bool(inputs["b"].data)}


class LogicNot(KiaraModule):
    _module_type_name = "logic.not"

    def create_inputs_schema(self):
        return {"a": {"type": "boolean"}}

    def create_outputs_schema(self):
        return {"y": {"type": "boolean"}}

    def process(self, inputs: ValueMap, context):
        return {"y": not inputs["a"].data}


class MockModule(KiaraModule):
    """Canned outputs from config (reference mock.py:75-130).

    Accepts BOTH config dialects: this engine's compact
    ``{"inputs": {f: type}, "outputs": {f: {"type":…, "value":…}}}`` and the
    reference MockModuleConfig shape
    ``{"inputs_schema": {f: {"type":…}}, "outputs": {f: {"field_schema":
    {...}, "data":…}}}`` so reference-built mock pipelines run unchanged."""

    _module_type_name = "mock"

    def create_inputs_schema(self):
        ins = self.config.get("inputs") or self.config.get("inputs_schema") or {}
        return {
            k: ({"type": v} if isinstance(v, str) else dict(v))
            for k, v in ins.items()
        }

    @staticmethod
    def _out_schema(spec: dict) -> dict:
        if "field_schema" in spec:  # reference MockOutput shape
            fs = dict(spec["field_schema"])
            return {"type": fs.get("type", "any"),
                    "optional": fs.get("optional", False)}
        return {"type": spec.get("type", "string")}

    def create_outputs_schema(self):
        return {
            k: self._out_schema(spec)
            for k, spec in self.config.get("outputs", {}).items()
        }

    def process(self, inputs: ValueMap, context):
        out = {}
        for k, spec in self.config.get("outputs", {}).items():
            if "from_input" in spec:  # echo an input through (testing aid)
                out[k] = inputs[spec["from_input"]].data
            elif "data" in spec:  # reference MockOutput shape
                out[k] = spec["data"]
            else:
                out[k] = spec.get("value")
        return out


class PrettyPrintValue(KiaraModule):
    """Reference pretty_print.py:35-191; for tables: capture df.show()."""

    _module_type_name = "pretty_print.value"
    _characteristics = ModuleCharacteristics(is_internal=True)

    def create_inputs_schema(self):
        return {"value": {"type": "any"}}

    def create_outputs_schema(self):
        return {"rendered_value": {"type": "string"}}

    def process(self, inputs: ValueMap, context):
        from ..io import show_string

        return {"rendered_value": show_string(
            inputs["value"].data, self.config.get("max_rows", 20))}


class RenderValue(KiaraModule):
    """Reference ``included_core_modules/render_value.py`` (render.value):
    paginated render with scene navigation for front-ends.  For tables the
    page is ``offset/limit`` pushed into the plan (Spark ``offset`` + limit —
    no full materialization; only the page crosses to the driver)."""

    _module_type_name = "render.value"
    _characteristics = ModuleCharacteristics(is_internal=True)

    def create_inputs_schema(self):
        return {"value": {"type": "any"},
                "render_config": {"type": "dict", "optional": True}}

    def create_outputs_schema(self):
        return {"render_value_result": {"type": "dict"}}

    def process(self, inputs: ValueMap, context):
        cfg = dict(self.config)
        if "render_config" in inputs:
            cfg.update(inputs["render_config"].data or {})
        offset = int(cfg.get("offset", 0))
        limit = int(cfg.get("limit", 20))
        data = inputs["value"].data
        if isinstance(data, DataFrame):
            from ..io import collect_table_page

            page = collect_table_page(data, offset, limit)
            result = {
                "kind": "table_page",
                "columns": page["columns"],
                "rows": page["rows"],
                "offset": offset,
                "limit": limit,
                "related_scenes": {
                    "first": {"offset": 0, "limit": limit},
                    "next": {"offset": offset + limit, "limit": limit},
                    "previous": {"offset": max(0, offset - limit), "limit": limit},
                },
            }
        else:
            result = {"kind": "string", "rendered": repr(data),
                      "offset": 0, "limit": limit, "related_scenes": {}}
        return {"render_value_result": result}


class RenderItem(KiaraModule):
    """Template rendering as an operation: routes through the context's
    RenderRegistry (renderers.py — the reference's jinja renderer stack,
    ``src/kiara/renderers/``), minted per (source, target) combination as
    ``render.<source>.as.<target>`` operations.  For table values the
    renderer pushes offset/limit into the Spark plan — one page of rows
    crosses to the driver, never the table."""

    _module_type_name = "render.item"
    _characteristics = ModuleCharacteristics(is_internal=True)

    def create_inputs_schema(self):
        return {"item": {"type": "any"},
                "render_config": {"type": "dict", "optional": True}}

    def create_outputs_schema(self):
        return {"rendered": {"type": "string"}}

    def process(self, inputs: ValueMap, context):
        from ..values import Value

        source_type = self.config["source_type"]
        target_type = self.config["target_type"]
        cfg = dict(self.config.get("render_config", {}))
        if "render_config" in inputs:
            cfg.update(inputs["render_config"].data or {})
        item = inputs["item"]
        # value renderers consume the Value wrapper (id + type travel into
        # the page); everything else unwraps to the raw payload
        source = item if source_type == "value" and isinstance(item, Value) \
            else item.data
        rendered = context.render_registry.render(
            source_type, target_type, source, **cfg)
        return {"rendered": rendered}


class ExtractMetadata(KiaraModule):
    """Reference metadata.py:26-88 — profiling as a distributed job.

    One pass: count + per-column null counts + min/max for atomic columns
    (single aggregate, map-side combined; no row data reaches the driver).
    """

    _module_type_name = "value.extract_metadata"
    _characteristics = ModuleCharacteristics(is_internal=True)

    def create_inputs_schema(self):
        return {"value": {"type": "table"}}

    def create_outputs_schema(self):
        return {"value_metadata": {"type": "dict"}}

    def process(self, inputs: ValueMap, context):
        df: DataFrame = inputs["value"].data
        atomic = [
            f.name for f in df.schema.fields
            if f.dataType.typeName() in
            ("integer", "long", "double", "float", "string", "timestamp", "date", "boolean")
        ]
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in atomic:
            aggs += [
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
                F.min(c).alias(f"{c}__min"),
                F.max(c).alias(f"{c}__max"),
            ]
        row = df.agg(*aggs).collect()[0].asDict()
        meta = {
            "rows": row["__n"],
            "columns": {
                f.name: {"type": f.dataType.simpleString()} for f in df.schema.fields
            },
        }
        for c in atomic:
            meta["columns"][c].update(
                nulls=row[f"{c}__nulls"], min=str(row[f"{c}__min"]), max=str(row[f"{c}__max"])
            )
        return {"value_metadata": meta}


# ---------------------------------------------------------------------------
# metadata schema registry (reference `kiara context info environment
# metadata list/explain` — models/values/value_metadata.py: ValueMetadata
# subclasses keyed by metadata key, e.g. 'python_class')
# ---------------------------------------------------------------------------

METADATA_SCHEMAS: dict[str, dict] = {
    "python_class": {
        "doc": "Python class backing the value's data object.",
        "fields": {"python_class_name": "string", "python_module_name": "string",
                   "full_name": "string"},
    },
    "table": {
        "doc": "Table profile: row count plus per-column type/null/min/max "
               "(one distributed aggregate pass, value.extract_metadata).",
        "fields": {"rows": "long", "columns": "map<col, profile>"},
    },
    "file": {
        "doc": "File metadata: size, mime type, content hash.",
        "fields": {"size": "long", "mime_type": "string", "hash": "string"},
    },
    "media": {
        "doc": "Opaque media column metadata: byte size, sha256, sniffed "
               "kind (media.attach_metadata).",
        "fields": {"media_size": "long", "media_sha": "string",
                   "media_kind": "string"},
    },
}


def metadata_for_value(value) -> dict:
    """The `python_class` metadata record for any value (reference
    value_metadata.py PythonClass)."""
    cls = type(value.data)
    return {"python_class_name": cls.__name__,
            "python_module_name": cls.__module__,
            "full_name": f"{cls.__module__}.{cls.__name__}"}


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

MEDIA_SCHEMA = (
    "id long, media binary, media_type string, width int, height int, "
    "n_frames int, sample_rate int"
)


def attach_media_metadata(df: DataFrame, binary_col: str = "media") -> DataFrame:
    """Typed metadata columns for an opaque binary media column.  Cheap,
    deterministic, JVM-side (magic-byte sniffing via substring on binary)."""
    b = F.col(binary_col)
    head = F.substring(b.cast("string"), 1, 8)
    return df.withColumns(
        {
            "media_size": F.octet_length(b),
            "media_sha": F.sha2(b, 256),
            "media_kind": F.when(head.startswith("\x89PNG"), F.lit("image/png"))
            .when(head.startswith("\xff\xd8"), F.lit("image/jpeg"))
            .when(head.startswith("RIFF"), F.lit("audio/wav"))
            .otherwise(F.lit("application/octet-stream")),
        }
    )


def _pillow_dims(blob):
    """(width, height) via Pillow; (0, 0) for NULL/corrupt blobs — the
    auditable-failure convention the whole media family uses.  Import is
    inside the call so the function ships to executors and resolves PIL in
    the WORKER interpreter (the driver having Pillow proves nothing about
    the executors)."""
    import io

    from PIL import Image

    if not blob:
        return (0, 0)
    try:
        with Image.open(io.BytesIO(bytes(blob))) as im:
            return (int(im.size[0]), int(im.size[1]))
    except Exception:
        return (0, 0)


def _image_batch_features(pdf, pt_names, binary_col, dims_fn):
    """One Arrow batch -> features frame.  ``dims_fn=None`` is the
    deterministic stub (dims from byte arithmetic — oracle-verifiable);
    otherwise dims_fn(blob) -> (w, h) does the real decode.  Shared by the
    Spark worker path and driver-side unit tests."""
    out = pdf[pt_names].copy()
    blobs = pdf[binary_col]
    out["byte_len"] = blobs.map(lambda x: len(x) if x is not None else 0)
    if dims_fn is None:
        out["width"] = blobs.map(lambda x: (len(x) % 64) + 1 if x else 0)
        out["height"] = blobs.map(lambda x: (len(x) % 48) + 1 if x else 0)
    else:
        dims = [dims_fn(x) for x in blobs]
        out["width"] = [d[0] for d in dims]
        out["height"] = [d[1] for d in dims]
    return out


def decode_image_stub(df: DataFrame, binary_col: str = "media",
                      passthrough: tuple = (), decoder: str = "auto"):
    """Image decode -> features, as ``mapInPandas``.

    ``decoder`` selects the pixel path, with ONE output contract
    (passthrough..., byte_len, width, height) shared by all of them:

    - ``"stub"``: deterministic byte-arithmetic dims — the oracle-checkable
      plumbing path (Python boundary, Arrow batching, schema and partition
      behavior are the real production shape either way);
    - ``"pillow"``: real JPEG/PNG/BMP decode via ``PIL.Image`` — raises
      ``NotImplementedError`` in the worker when Pillow is absent;
    - ``"auto"`` (default): pillow when importable IN THE WORKER, stub
      otherwise — so the same pipeline definition upgrades itself on a
      cluster with codecs installed.

    Corrupt/NULL blobs decode as (0, 0), never abort the batch.

    ``passthrough`` columns (typically the row id plus metadata columns) are
    carried through the Arrow batch unchanged so downstream joins aren't
    needed — at 100 TB a decode stage that forces a re-join on id would pay
    an avoidable shuffle.
    """
    from pyspark.sql.types import (IntegerType, LongType, StructField,
                                   StructType)

    if decoder not in ("auto", "stub", "pillow"):
        raise ValueError(f"unknown image decoder: {decoder!r}")
    pt_fields = [f for f in df.schema.fields if f.name in set(passthrough)]
    pt_names = [f.name for f in pt_fields]
    schema = StructType(
        list(pt_fields)
        + [
            StructField("byte_len", LongType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
        ]
    )

    def _decode(batches):
        dims_fn = None
        if decoder in ("pillow", "auto"):
            try:
                import PIL  # noqa: F401 — worker-side availability probe

                dims_fn = _pillow_dims
            except ImportError:
                if decoder == "pillow":
                    raise NotImplementedError(
                        "decoder='pillow' requires Pillow on every executor "
                        "(pip install pillow); use decoder='auto' to fall "
                        "back to the deterministic stub") from None
        for pdf in batches:
            yield _image_batch_features(pdf, pt_names, binary_col, dims_fn)

    return df.mapInPandas(_decode, schema=schema)


def frame_sample_stub(df: DataFrame, binary_col: str = "media",
                      id_col: str = "id", frame_bytes: int = 1000,
                      max_frames: int = 8):
    """Video frame sampling -> one row PER FRAME, as ``mapInPandas``.

    The 1->N Arrow fan-out (each media row yields several frame rows) is
    the real production plumbing for frame extraction; the decoder is
    stubbed deterministically (a "frame" every ``frame_bytes`` bytes,
    capped at ``max_frames``) because ffmpeg is absent in this container.
    Swap the offset loop for real keyframe extraction on a cluster with
    codecs installed — schema, batching, and partition behavior carry
    over unchanged."""
    import pandas as pd

    def _sample(batches):
        for pdf in batches:
            out = []
            for rid, blob in zip(pdf[id_col], pdf[binary_col]):
                n = len(blob) if blob is not None else 0
                n_frames = min(max_frames, n // frame_bytes + 1) if n else 0
                for i in range(n_frames):
                    off = i * frame_bytes
                    out.append((rid, i, off, min(frame_bytes, n - off)))
            yield pd.DataFrame(
                out, columns=[id_col, "frame_idx", "frame_offset", "frame_len"])

    return df.mapInPandas(
        _sample,
        schema=f"{id_col} long, frame_idx int, frame_offset long, frame_len long")


def scene_cuts_stub(
    frames: DataFrame,
    id_col: str = "id",
    threshold: int = 500,
) -> DataFrame:
    """Shot-boundary (scene-cut) detection over a sampled-frame table —
    the standard video-curation step after ``media.frame_sample``: compute
    a per-frame feature, compare consecutive frames per video, and flag a
    cut where the feature jumps past ``threshold``.

    The per-frame "feature" here is deterministic arithmetic on the frame
    descriptor ((id·7919 + idx·104729 + len) mod 997 — the container has
    no codecs), but the PLUMBING is the production shape and fully real:
    one window-lag pass partitioned on the video key (single shuffle,
    state = one previous frame per partition stream) + one per-video
    aggregate.  Swap the feature expression for a decoded-frame histogram
    distance on a cluster with codecs; the plan is unchanged.  Returns
    (id, n_frames, n_cuts, first_cut_idx)."""
    from pyspark.sql.window import Window

    feat = ((F.col(id_col) * 7919 + F.col("frame_idx") * 104729
             + F.col("frame_len")) % 997).cast("bigint")
    w = Window.partitionBy(id_col).orderBy("frame_idx")
    prev = F.lag(feat).over(w)
    cut = (prev.isNotNull()
           & (F.abs(feat - prev) > threshold)).cast("int")
    per = frames.select(F.col(id_col), F.col("frame_idx"), cut.alias("_cut"))
    return per.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum("_cut").cast("bigint").alias("n_cuts"),
        F.min(F.when(F.col("_cut") == 1, F.col("frame_idx")))
        .cast("bigint").alias("first_cut_idx"))


def decode_audio_stub(df: DataFrame, binary_col: str = "media",
                      passthrough: tuple = ()):
    """Audio decode -> features, as ``mapInPandas`` (completes the
    image/video/audio stub family).

    Real decoding needs soundfile/ffmpeg (absent in this container); the
    Arrow batching, passthrough-column plumbing and schema are the real
    production path, while the "decoded" header fields are deterministic
    byte arithmetic so the DuckDB oracle can verify the plumbing exactly:
    sample_rate ∈ {8000, 16000, 24000} by byte length mod 3, channels
    1 + len%2, 16-bit PCM duration = len·1000 / (rate·channels·2).  Swap
    the arithmetic block for a real header parse + resample on a cluster
    with codecs installed.
    """
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    pt_fields = [f for f in df.schema.fields if f.name in set(passthrough)]
    pt_names = [f.name for f in pt_fields]
    schema = StructType(
        list(pt_fields)
        + [
            StructField("byte_len", LongType()),
            StructField("sample_rate", IntegerType()),
            StructField("n_channels", IntegerType()),
            StructField("duration_ms", LongType()),
        ]
    )

    def _fake_decode(batches):
        for pdf in batches:
            out = pdf[pt_names].copy()
            lens = pdf[binary_col].map(lambda x: len(x) if x is not None else 0)
            rate = lens.map(lambda n: (8000 * (n % 3 + 1)) if n else 0)
            chans = lens.map(lambda n: (1 + n % 2) if n else 0)
            out["byte_len"] = lens.astype("int64")
            out["sample_rate"] = rate.astype("int32")
            out["n_channels"] = chans.astype("int32")
            out["duration_ms"] = [
                (n * 1000) // (r * c * 2) if n else 0
                for n, r, c in zip(lens, rate, chans)
            ]
            yield out

    real_decode_available = False
    if real_decode_available:  # pragma: no cover
        raise NotImplementedError("install soundfile/ffmpeg and replace _fake_decode")
    return df.mapInPandas(_fake_decode, schema=schema)


def embed_media_stub(df: DataFrame, binary_col: str = "media",
                     id_col: str = "id", dim: int = 8):
    """Media -> embedding via ``mapInPandas`` — the encoder seam of a
    cross-modal retrieval pipeline (CLIP-style: encode every modality into
    one vector space, then ANN).

    The "encoder" is a deterministic md5-derived projection
    (``v_i = hash32(blob ++ ':' ++ i) / 2^32 · 2 − 1``) because no model
    runtime ships in this container — but it is chosen so the SAME vector
    is computable as a JVM-side expression (operators.text.base_hash32 per
    dimension), which pins the Arrow plumbing exactly: batching, binary
    handling, and float math must all agree with the SQL/JVM path
    bit-for-bit or the oracle fails.  Swap the hash block for a real
    encoder (ONNX/torch) on a cluster with the runtime installed; schema
    and batch shape carry over."""
    import hashlib

    import pandas as pd

    def _embed(batches):
        for pdf in batches:
            vecs = []
            for blob in pdf[binary_col]:
                b = bytes(blob) if blob is not None else b""
                vecs.append([
                    int(hashlib.md5(b + b":" + str(i).encode()).hexdigest()[:8],
                        16) / 4294967296.0 * 2.0 - 1.0
                    for i in range(dim)
                ])
            yield pd.DataFrame({id_col: pdf[id_col], "embedding": vecs})

    return df.mapInPandas(
        _embed, schema=f"{id_col} long, embedding array<double>")


def resize_image_stub(df: DataFrame, target_w: int = 224, target_h: int = 224,
                      id_col: str = "id"):
    """Aspect-preserving resize -> ``mapInPandas`` over decoded dimensions.

    Computes the letterbox fit (scale = min(tw/w, th/h), rounded output
    dims) the way a real resize kernel would, vectorized per Arrow batch;
    only the pixel resample itself is absent (no PIL in this container) —
    swap the dimension arithmetic block for Image.resize on a real
    cluster.  Zero-dim inputs pass through as zero (corrupt-image row,
    kept for audit rather than dropped)."""
    import pandas as pd

    def _resize(batches):
        import numpy as np

        for pdf in batches:
            w = pdf["width"].astype("float64")
            h = pdf["height"].astype("float64")
            scale = pd.concat([target_w / w.where(w > 0, 1.0),
                               target_h / h.where(h > 0, 1.0)], axis=1).min(axis=1)
            ok = (w > 0) & (h > 0)
            # floor(x + 0.5): explicit half-up — numpy's .round() is
            # half-to-even and would disagree with SQL ROUND on exact .5s
            half_up = lambda s: np.floor(s + 0.5)  # noqa: E731
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "width": pdf["width"],
                "height": pdf["height"],
                "resized_w": half_up(w * scale).where(ok, 0).astype("int32"),
                "resized_h": half_up(h * scale).where(ok, 0).astype("int32"),
                "scale": scale.where(ok, 0.0).round(6),
            })

    return df.mapInPandas(
        _resize,
        schema=f"{id_col} long, width int, height int, "
               "resized_w int, resized_h int, scale double")


class MediaResizeImage(KiaraModule):
    _module_type_name = "media.resize_image"

    def create_inputs_schema(self):
        return {"table": {"type": "table"}}

    def create_outputs_schema(self):
        return {"table": {"type": "table"}}

    def process(self, inputs: ValueMap, context):
        return {"table": resize_image_stub(
            inputs["table"].data,
            target_w=self.config.get("target_width", 224),
            target_h=self.config.get("target_height", 224),
            id_col=self.config.get("id_column", "id"))}


class MediaFrameSample(KiaraModule):
    _module_type_name = "media.frame_sample"

    def create_inputs_schema(self):
        return {"table": {"type": "table"}}

    def create_outputs_schema(self):
        return {"table": {"type": "table"}}

    def process(self, inputs: ValueMap, context):
        return {"table": frame_sample_stub(
            inputs["table"].data,
            binary_col=self.config.get("binary_column", "media"),
            id_col=self.config.get("id_column", "id"),
            frame_bytes=self.config.get("frame_bytes", 1000),
            max_frames=self.config.get("max_frames", 8))}


class MediaSceneCuts(KiaraModule):
    _module_type_name = "media.scene_cuts"

    def create_inputs_schema(self):
        return {"frames": {"type": "table"}}

    def create_outputs_schema(self):
        return {"table": {"type": "table"}}

    def process(self, inputs: ValueMap, context):
        return {"table": scene_cuts_stub(
            inputs["frames"].data,
            id_col=self.config.get("id_column", "id"),
            threshold=self.config.get("threshold", 500))}


class MediaAttachMetadata(KiaraModule):
    _module_type_name = "media.attach_metadata"

    def create_inputs_schema(self):
        return {"table": {"type": "table"}}

    def create_outputs_schema(self):
        return {"table": {"type": "table"}}

    def process(self, inputs: ValueMap, context):
        return {"table": attach_media_metadata(
            inputs["table"].data, self.config.get("binary_column", "media"))}


class MediaDecodeImage(KiaraModule):
    _module_type_name = "media.decode_image"

    def create_inputs_schema(self):
        return {"table": {"type": "table"}}

    def create_outputs_schema(self):
        return {"table": {"type": "table"}}

    def process(self, inputs: ValueMap, context):
        return {"table": decode_image_stub(
            inputs["table"].data, self.config.get("binary_column", "media"),
            passthrough=tuple(self.config.get("passthrough", ())),
            decoder=self.config.get("decoder", "auto"))}


class MediaDecodeAudio(KiaraModule):
    _module_type_name = "media.decode_audio"

    def create_inputs_schema(self):
        return {"table": {"type": "table"}}

    def create_outputs_schema(self):
        return {"table": {"type": "table"}}

    def process(self, inputs: ValueMap, context):
        return {"table": decode_audio_stub(
            inputs["table"].data, self.config.get("binary_column", "media"),
            passthrough=tuple(self.config.get("passthrough", ())))}


class MediaEmbed(KiaraModule):
    _module_type_name = "media.embed"

    def create_inputs_schema(self):
        return {"table": {"type": "table"}}

    def create_outputs_schema(self):
        return {"table": {"type": "table"}}

    def process(self, inputs: ValueMap, context):
        return {"table": embed_media_stub(
            inputs["table"].data,
            binary_col=self.config.get("binary_column", "media"),
            id_col=self.config.get("id_column", "id"),
            dim=self.config.get("dim", 8))}


MODULES = [
    LogicAnd, LogicOr, LogicXor, LogicNot, MockModule, PrettyPrintValue,
    RenderValue, RenderItem, ExtractMetadata, MediaAttachMetadata,
    MediaDecodeImage, MediaDecodeAudio, MediaFrameSample, MediaResizeImage,
    MediaEmbed, MediaSceneCuts,
]
OPERATIONS = [
    Operation("pretty_print.table.as.string", "pretty_print.value",
              operation_type="pretty_print"),
    Operation("render.table.as.table_page", "render.value",
              operation_type="render_value"),
    # template renderer family (renderers.py; reference included_renderers)
    Operation("render.pipeline.as.html", "render.item",
              {"source_type": "pipeline", "target_type": "html"},
              doc="Render a pipeline (file/config) as a static html page.",
              operation_type="render_value"),
    Operation("render.pipeline.as.markdown", "render.item",
              {"source_type": "pipeline", "target_type": "markdown"},
              doc="Render a pipeline (file/config) as a markdown document.",
              operation_type="render_value"),
    Operation("render.pipeline.as.python_script", "render.item",
              {"source_type": "pipeline", "target_type": "python_script"},
              doc="Render a pipeline (file/config) as a standalone runnable "
                  "python script (reference pipeline_to_python_script).",
              operation_type="render_value"),
    Operation("render.pipeline.as.png", "render.item",
              {"source_type": "pipeline", "target_type": "png"},
              doc="Render the pipeline execution DAG as a PNG image "
                  "(dependency-free rasterizer + stdlib PNG encoder).",
              operation_type="render_value"),
    Operation("render.api.as.markdown", "render.item",
              {"source_type": "api", "target_type": "markdown"},
              doc="Render the public KiaraAPI surface (live inspect "
                  "signatures + summaries) as one markdown doc page.",
              operation_type="render_value"),
    Operation("render.value.as.html", "render.item",
              {"source_type": "value", "target_type": "html"},
              doc="Render a table value as one html page "
                  "(offset/limit pushed into the plan).",
              operation_type="render_value"),
    Operation("render.operation.as.markdown", "render.item",
              {"source_type": "op", "target_type": "markdown"},
              doc="Render an operation's typed documentation as markdown.",
              operation_type="render_value"),
    Operation("render.job.as.markdown", "render.item",
              {"source_type": "job", "target_type": "markdown"},
              doc="Render a job record (manifest, value ids, runtime env) "
                  "as markdown.",
              operation_type="render_value"),
    Operation("render.job_desc.as.python_script", "render.item",
              {"source_type": "job_desc", "target_type": "python_script"},
              doc="Render a job description (operation + inputs + save "
                  "aliases) as a standalone runnable python script "
                  "(reference job_to_python_script).",
              operation_type="render_value"),
    Operation("render.archive.as.html", "render.item",
              {"source_type": "archive", "target_type": "html"},
              doc="Render a value archive's manifest (aliases, shipped "
                  "datasets, lineage) as a static html page.",
              operation_type="render_value"),
    Operation("extract.table.metadata", "value.extract_metadata",
              operation_type="extract_metadata"),
    Operation("media.attach_metadata", "media.attach_metadata"),
    Operation("media.decode_image", "media.decode_image"),
    Operation("media.decode_audio", "media.decode_audio"),
    Operation("media.frame_sample", "media.frame_sample"),
    Operation("media.resize_image", "media.resize_image"),
    Operation("media.embed", "media.embed"),
    Operation("media.scene_cuts", "media.scene_cuts"),
]
