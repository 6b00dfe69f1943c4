"""Reach guard for the media codecs: every function in the codec modules
must be entered by the inputs the registry's ``mm_*`` queries and
``jobs/media_report.py`` actually produce.

The test builds the same (synth → operator) frames the registry builds,
captures each ``mapInPandas`` body instead of shipping it to a worker,
runs the synth bodies in-process over ``n_chars`` 0..1199 (every codec
rotation crossed with every image shape and clip length) and pipes
their payloads through the operator bodies, recording every function
entered. Tracing starts before the frames are built, so plan-time
functions (``synth_media``, ``sniff_media_type``) count too, and each
module's top level is re-run under the tracer, so import-time table
builders count whichever test imported the module first. A codec
mode that only a test constructs fails this guard: delete it, or route
a registry query through it.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import sys
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

ROOT = Path(__file__).resolve().parents[1]

CODEC_MODULES = (
    "multimodal", "jpeg", "jpeg_arith", "jpeg_hier", "webp", "tiff", "aiff",
    "tga", "flac", "avi", "caf", "ico", "pcx", "qoi",
)

#: synth → the operators (with the registry's arguments) applied to its
#: frame by queries/multimodal.py and jobs/media_report.py
PIPELINES = {
    "synth_media": (
        ("media_metadata", {}),
        ("sniff_media_type", {}),
        ("extract_features", {}),
        ("frame_sample", {}),
    ),
    "synth_media_mixed": (
        ("decode_image_np", {}),
        ("resize_image_np", {"max_side": 4}),
        ("phash_np", {}),
        ("image_standardize_np", {"side": 4}),
    ),
    "synth_media_wav": (("audio_features_np", {}), ("audio_normalize_np", {})),
    "synth_media_wav_vad": (("audio_vad_np", {}),),
    "synth_media_y4m": (("video_frame_features_np", {}),),
    "synth_media_y4m_shots": (("video_shots_np", {}),),
}

#: operators that build a Column instead of running a batch body
COLUMN_OPS = {"sniff_media_type"}

N_CHARS = range(1200)


def _imported_operators(path: Path) -> set[str]:
    from dstlr_spark.operators import multimodal

    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and (
            node.module == "dstlr_spark.operators.multimodal"
        ):
            names.update(a.name for a in node.names)
    return {n for n in names if callable(getattr(multimodal, n))}


def test_pipeline_table_names_every_registry_operator():
    used = _imported_operators(ROOT / "dstlr_spark/queries/multimodal.py")
    used |= _imported_operators(ROOT / "jobs/media_report.py")
    table = set(PIPELINES) | {op for ops in PIPELINES.values() for op, _ in ops}
    assert used - table == set(), (
        "operators imported by the media queries/job but missing from "
        f"PIPELINES: {sorted(used - table)}"
    )


def _batches(pdf: pd.DataFrame, size: int = 100):
    return (pdf.iloc[i:i + size] for i in range(0, len(pdf), size))


def _key(code):
    return code.co_filename, code.co_firstlineno


def _codec_functions():
    """(module, qualname, code) for every top-level function and method."""
    for short in CODEC_MODULES:
        mod = importlib.import_module(f"dstlr_spark.operators.{short}")
        for name, obj in vars(mod).items():
            if getattr(obj, "__module__", None) != mod.__name__:
                continue
            if inspect.isfunction(obj):
                yield short, name, obj.__code__
            elif inspect.isclass(obj):
                for attr, member in vars(obj).items():
                    fn = getattr(member, "__func__", member)
                    if inspect.isfunction(fn):
                        yield short, f"{name}.{attr}", fn.__code__


def test_every_codec_function_is_reached(spark, monkeypatch):
    from dstlr_spark.operators import multimodal as mm

    bodies = []
    real_map = ClassicDataFrame.mapInPandas

    def capture(self, func, schema, *args, **kwargs):
        bodies.append(func)
        return real_map(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "mapInPandas", capture)

    docs_pdf = pd.DataFrame(
        {"doc_id": [f"d{n}" for n in N_CHARS], "n_chars": list(N_CHARS),
         "text": ["x"] * len(N_CHARS)}
    )
    docs = spark.createDataFrame(docs_pdf, "doc_id string, n_chars int, text string")

    entered = set()

    def tracer(frame, event, arg):
        if event == "call":
            entered.add(_key(frame.f_code))

    old = sys.gettrace()
    sys.settrace(tracer)
    try:
        for short in CODEC_MODULES:
            path = importlib.import_module(f"dstlr_spark.operators.{short}").__file__
            with open(path) as f:
                exec(compile(f.read(), path, "exec"), {"__name__": f"_reach_{short}"})
        for synth, ops in PIPELINES.items():
            bodies.clear()
            media = getattr(mm, synth)(docs)
            if bodies:
                (synth_body,) = bodies
                payloads = pd.concat(
                    list(synth_body(_batches(docs_pdf[["doc_id", "n_chars"]])))
                )
            else:
                payloads = media.toPandas()
            assert len(payloads) == len(N_CHARS), synth
            for op, kwargs in ops:
                bodies.clear()
                if op in COLUMN_OPS:
                    media.select(getattr(mm, op)(F.col("payload")))
                    continue
                getattr(mm, op)(media, **kwargs)
                (op_body,) = bodies
                out = list(op_body(_batches(payloads)))
                assert out, (synth, op)
    finally:
        sys.settrace(old)

    missed = [
        f"{short}.{qualname}"
        for short, qualname, code in _codec_functions()
        if _key(code) not in entered
    ]
    assert missed == [], (
        f"{len(missed)} codec functions no registry input reaches — delete "
        "them or route a registry query through them:\n  " + "\n  ".join(missed)
    )
