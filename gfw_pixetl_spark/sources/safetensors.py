"""Pure-Python safetensors codec — the Hugging Face tensor-file format
(public spec at huggingface/safetensors): an 8-byte little-endian
header length, a JSON header mapping tensor names to
``{dtype, shape, data_offsets}`` (plus optional ``__metadata__``
strings), then one contiguous byte buffer. Model checkpoints and
embedding shards ship this way; a training-data pipeline reads them to
join precomputed embeddings and writes them to hand activations /
statistics back to trainers.

Validation on read is strict (the format's raison d'être): header JSON
only, offsets in-bounds / non-overlapping / matching shape x itemsize,
no trailing junk. BF16 is stored/read as raw uint16 payloads (numpy
has no bfloat16 dtype — documented, not mis-parsed).
"""

from __future__ import annotations

import json
import struct

import numpy as np

from .bitio import refuse_damage

_DTYPES = {
    "F64": np.float64, "F32": np.float32, "F16": np.float16,
    "I64": np.int64, "I32": np.int32, "I16": np.int16, "I8": np.int8,
    "U64": np.uint64, "U32": np.uint32, "U16": np.uint16,
    "U8": np.uint8, "BOOL": np.bool_,
}
_NAMES = {np.dtype(v): k for k, v in _DTYPES.items()}


def write_safetensors(tensors: dict[str, np.ndarray],
                      metadata: dict[str, str] | None = None) -> bytes:
    """Serialize named tensors (C-contiguous, little-endian)."""
    header: dict = {}
    if metadata:
        header["__metadata__"] = {str(k): str(v)
                                  for k, v in metadata.items()}
    payload = bytearray()
    for name, arr in tensors.items():
        # asarray(order="C") keeps 0-d tensors 0-d (ascontiguousarray
        # would promote them to 1-d)
        arr = np.asarray(arr, order="C")
        if arr.dtype.byteorder == ">":
            arr = arr.astype(arr.dtype.newbyteorder("<"))
        key = _NAMES.get(arr.dtype)
        if key is None:
            raise ValueError(f"safetensors: unsupported dtype "
                             f"{arr.dtype}")
        start = len(payload)
        payload += arr.tobytes()
        header[str(name)] = {
            "dtype": key,
            "shape": list(arr.shape),
            "data_offsets": [start, len(payload)],
        }
    head = json.dumps(header, separators=(",", ":"),
                      sort_keys=True).encode("utf-8")
    head += b" " * (-len(head) % 8)  # spec allows space padding
    return struct.pack("<Q", len(head)) + head + bytes(payload)


@refuse_damage("corrupt safetensors")
def read_safetensors(data: bytes) -> tuple[dict, dict]:
    """-> ({name: ndarray}, metadata dict). Strict validation: damaged
    bytes raise ``ValueError``."""
    if len(data) < 8:
        raise ValueError("safetensors: truncated length prefix")
    (hlen,) = struct.unpack("<Q", data[:8])
    if 8 + hlen > len(data):
        raise ValueError("safetensors: header exceeds payload")
    try:
        header = json.loads(data[8:8 + hlen].decode("utf-8"))
    except (UnicodeDecodeError, json.JSONDecodeError) as e:
        raise ValueError(f"safetensors: bad header JSON ({e})") from e
    if not isinstance(header, dict):
        raise ValueError("safetensors: header is not an object")
    metadata = header.pop("__metadata__", {}) or {}
    buf = data[8 + hlen:]
    out: dict[str, np.ndarray] = {}
    spans = []
    for name, info in header.items():
        dtype = _DTYPES.get(info.get("dtype"))
        if dtype is None:
            raise ValueError(
                f"safetensors: dtype {info.get('dtype')!r} unsupported "
                "(BF16 payloads: read the raw bytes via data_offsets)")
        shape = tuple(int(d) for d in info["shape"])
        start, end = (int(x) for x in info["data_offsets"])
        n = int(np.prod(shape, dtype=np.int64)) if shape else 1
        want = n * np.dtype(dtype).itemsize
        if not (0 <= start <= end <= len(buf)) or end - start != want:
            raise ValueError(
                f"safetensors: tensor {name!r} offsets [{start}, {end}) "
                f"inconsistent with shape {shape}")
        spans.append((start, end))
        out[name] = np.frombuffer(
            buf[start:end], dtype=np.dtype(dtype).newbyteorder("<")
        ).reshape(shape)
    spans.sort()
    for (_s1, e1), (s2, _e2) in zip(spans, spans[1:]):
        if s2 != e1:  # the spec forbids both overlaps and holes
            raise ValueError("safetensors: tensor spans overlap or "
                             "leave a hole")
    if spans and (spans[0][0] != 0 or spans[-1][1] != len(buf)):
        raise ValueError("safetensors: buffer has uncovered bytes")
    if not spans and buf:
        raise ValueError("safetensors: buffer has uncovered bytes")
    return out, metadata
