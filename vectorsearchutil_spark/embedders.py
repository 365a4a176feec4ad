"""Pluggable embedder registry — the engine's UDF surface.

The reference's extension points are subclass overrides
(``_trans_vec_main_func`` / ``_trans_vec_sub_func`` / ``init_model``,
``vsu/base/VectorSearchBase.py:34-40,141-151``) with three concrete
encoders: E5 text (``vsu/text/_classes.py:47-55``), CLIP image/text
(``vsu/image/_classes.py:39-55``) and EfficientNet image
(``vsu/image/_classes.py:73-91``).

Here an embedder is a named factory producing an **iterator
pandas_udf**: Arrow-batched (the batch plays the role of the
reference's ``sp=10`` chunking, ``VectorSearchBase.py:157-161``), with
the model initialized once per executor task via the iterator pattern
— the idiomatic Spark replacement for ``init_model``-per-object.

Query text and small ingest batches are the exception:
:func:`embed_local` encodes them in-process on the driver, as the
reference does before it searches and when it ingests
(``VectorSearchBase.py:101-133,172-210``). A one-row query needs no
Spark job, and the driver-built frames around it are JVM local
relations (``session.local_frame``), so an interactive read starts no
Python worker.

The heavy encoders (torch/transformers/open_clip) are not installed in
this environment, so they are registered behind import guards; the
deterministic ``hash64`` stub is the correctness-boundary embedder
(SURVEY.md §5: embedding models stay outside the oracle boundary).
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

_REGISTRY: dict[str, tuple[int, Callable[[], Callable[[pd.Series], pd.Series]], bool]] = {}

#: sub-modality (query/label) encoders — reference A4/A13: CLIP
#: embeds its zero-shot labels with the TEXT tower while the main
#: modality is images (vsu/image/_classes.py:49-55). Falls back to
#: the main factory when an embedder has a single modality (E5).
_SUB_REGISTRY: dict[str, Callable[[], Callable[[pd.Series], pd.Series]]] = {}


def register_sub_embedder(name: str):
    """Register the label/query-side encoder for ``name``."""

    def deco(factory):
        _SUB_REGISTRY[name] = factory
        return factory

    return deco


def register_embedder(name: str, dim: int, supports_zeroshot: bool = True):
    """Register ``fn() -> (pd.Series[str] -> pd.Series[list[float]])``.

    The outer call is the per-executor model init (reference
    ``init_model``); the inner callable encodes one Arrow batch.
    ``supports_zeroshot=False`` marks embedders with no text/label
    tower — the reference's EfficientNet disables zero-shot outright
    (A10, ``vsu/image/_classes.py:69-70``).
    """

    def deco(factory):
        _REGISTRY[name] = (dim, factory, supports_zeroshot)
        return factory

    return deco


def embedder_names() -> list[str]:
    return sorted(_REGISTRY)


def embedding_dim(name: str) -> int:
    return _REGISTRY[name][0]


def supports_zeroshot(name: str) -> bool:
    return _REGISTRY[name][2]


def embed_udf(name: str):
    """Build the iterator pandas_udf for a registered embedder.

    Iterator form so model init happens once per task, not per batch —
    at 100 TB an executor core processes thousands of Arrow batches
    per model load.
    """
    dim, factory, _ = _REGISTRY[name]

    @F.pandas_udf(ArrayType(FloatType()))
    def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        encode = factory()  # per-task model init
        for batch in batches:
            yield encode(batch)

    return _udf


#: driver-side encoders for :func:`embed_local`, one per embedder per
#: process: a model loads once however many stores query through it
_LOCAL_ENCODERS: dict[str, Callable[[pd.Series], pd.Series]] = {}


def embed_local(name: str, texts: Sequence[str]) -> list[list[float]]:
    """Encode ``texts`` on the driver with ``name``'s main encoder, one
    vector per text.

    The model is initialized once per process. The output goes
    through float32, so each vector is bit-identical to the
    ``ArrayType(FloatType)`` value :func:`embed_udf` yields for the
    same text.
    """
    encode = _LOCAL_ENCODERS.get(name)
    if encode is None:
        encode = _LOCAL_ENCODERS[name] = _REGISTRY[name][1]()
    vecs = encode(pd.Series(list(texts), dtype=object))
    return [np.asarray(v, dtype=np.float32).tolist() for v in vecs]


def embed_sub_udf(name: str):
    """Label/query-modality pandas_udf (reference __trans_vec_sub,
    VectorSearchBase.py:172-191): the sub factory when registered,
    else the main encoder."""
    dim, main_factory, _ = _REGISTRY[name]
    factory = _SUB_REGISTRY.get(name, main_factory)

    @F.pandas_udf(ArrayType(FloatType()))
    def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        encode = factory()
        for batch in batches:
            yield encode(batch)

    return _udf


@register_embedder("hash64", 64)
def _hash64_factory():
    """Deterministic stub: 64-dim pseudo-random unit-scale vector from
    md5 of (component, text). Stands in for real encoders in tests —
    same dim as /root/testdata embeddings."""

    def encode(texts: pd.Series) -> pd.Series:
        def one(text: str) -> list[float]:
            vals = []
            for j in range(64):
                h = hashlib.md5(f"{j}:{text}".encode("utf-8")).hexdigest()
                # map first 8 hex chars to [-1, 1)
                vals.append(int(h[:8], 16) / 2**31 - 1.0)
            norm = math.sqrt(sum(v * v for v in vals)) or 1.0
            return [v / norm for v in vals]

        return texts.map(one)

    return encode


def _register_optional_encoders() -> None:
    """Real encoders, mirroring reference A11-A14; each family is
    import-guarded independently (transformers for E5/EfficientNet,
    open_clip for CLIP) so whatever is installed registers."""
    _register_e5()
    _register_clip()
    _register_efficientnet()


def _register_e5() -> None:
    try:  # E5 text encoder (vsu/text/_classes.py:16-26,47-55)
        import torch  # noqa: F401
        from transformers import AutoModel, AutoTokenizer  # noqa: F401
    except ImportError:
        return

    @register_embedder("e5-small", 384)
    def _e5_factory():  # pragma: no cover - heavy deps absent in CI
        import torch
        from transformers import AutoModel, AutoTokenizer

        tok = AutoTokenizer.from_pretrained("intfloat/multilingual-e5-small")
        model = AutoModel.from_pretrained("intfloat/multilingual-e5-small")
        model.eval()

        def encode(texts: pd.Series) -> pd.Series:
            # E5 convention: 'query: ' prefix (vsu/text/_classes.py:48)
            batch = tok(
                ["query: " + t for t in texts],
                max_length=512,
                padding=True,
                truncation=True,
                return_tensors="pt",
            )
            with torch.no_grad():
                out = model(**batch)
            # attention-mask-weighted mean pooling (vsu/text/_classes.py:24-26)
            mask = batch["attention_mask"][..., None]
            hidden = out.last_hidden_state.masked_fill(mask == 0, 0.0)
            pooled = hidden.sum(dim=1) / batch["attention_mask"].sum(dim=1)[..., None]
            return pd.Series(list(pooled.numpy().astype("float32").tolist()))

        return encode


def _register_clip() -> None:
    try:  # CLIP image+text towers (vsu/image/_classes.py:9-55)
        import open_clip  # noqa: F401
        import torch  # noqa: F401
        from PIL import Image  # noqa: F401
    except ImportError:
        return

    def _load():  # pragma: no cover - heavy deps absent in CI
        import open_clip

        model, _, preprocess = open_clip.create_model_and_transforms(
            "ViT-B-32", pretrained="laion2b_s34b_b79k"
        )
        model.eval()
        return model, preprocess

    @register_embedder("clip-vit-b32", 512)
    def _clip_image_factory():  # pragma: no cover
        import torch
        from PIL import Image

        model, preprocess = _load()

        def encode(paths: pd.Series) -> pd.Series:
            # path-or-PIL per reference (vsu/image/_classes.py:40)
            imgs = torch.stack(
                [
                    preprocess(
                        Image.open(p) if isinstance(p, str) else p
                    )
                    for p in paths
                ]
            )
            with torch.no_grad():
                feats = model.encode_image(imgs)
            # L2-normalize at encode (vsu/image/_classes.py:43-44)
            feats = feats / feats.norm(dim=-1, keepdim=True)
            return pd.Series(list(feats.numpy().astype("float32").tolist()))

        return encode

    @register_sub_embedder("clip-vit-b32")
    def _clip_text_factory():  # pragma: no cover
        import open_clip
        import torch

        model, _ = _load()
        tokenizer = open_clip.get_tokenizer("ViT-B-32")

        def encode(texts: pd.Series) -> pd.Series:
            with torch.no_grad():
                feats = model.encode_text(tokenizer(list(texts)))
            # label vectors normalized too (vsu/image/_classes.py:52)
            feats = feats / feats.norm(dim=-1, keepdim=True)
            return pd.Series(list(feats.numpy().astype("float32").tolist()))

        return encode


def _register_efficientnet() -> None:
    try:  # EfficientNet image encoder (vsu/image/_classes.py:58-91)
        import torch  # noqa: F401
        from PIL import Image  # noqa: F401
        from transformers import AutoImageProcessor, AutoModel  # noqa: F401
    except ImportError:
        return

    # no text tower -> zero-shot disabled (A10, vsu/image/_classes.py:69-70)
    @register_embedder("efficientnet-b0", 1280, supports_zeroshot=False)
    def _effnet_factory():  # pragma: no cover - heavy deps absent in CI
        import torch
        from PIL import Image
        from transformers import AutoImageProcessor, AutoModel

        proc = AutoImageProcessor.from_pretrained("google/efficientnet-b0")
        model = AutoModel.from_pretrained("google/efficientnet-b0")
        model.eval()

        def encode(paths: pd.Series) -> pd.Series:
            out = []
            for p in paths:
                img = Image.open(p) if isinstance(p, str) else p
                if img.mode != "RGB":  # force-convert (:78-79)
                    img = img.convert("RGB")
                inputs = proc(images=img, return_tensors="pt")
                with torch.no_grad():
                    hidden = model(**inputs).last_hidden_state
                # mean over batch+spatial dims (:88)
                out.append(
                    hidden.mean(dim=[0, 2, 3]).numpy()
                    .astype("float32").tolist()
                )
            return pd.Series(out)

        return encode


_register_optional_encoders()
