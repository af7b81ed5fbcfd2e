"""safetensors codec tests — sources/safetensors.py."""

from __future__ import annotations

import json
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gfw_pixetl_spark.sources.safetensors import (
    read_safetensors,
    write_safetensors,
)
from tests.conftest import refusal_counts


@given(st.integers(0, 2**32 - 1), st.integers(1, 5), st.integers(1, 8))
@settings(max_examples=60, deadline=None)
def test_round_trip(seed, n_tensors, dim):
    rng = np.random.default_rng(seed)
    dtypes = [np.float32, np.float64, np.int64, np.int16, np.uint8,
              np.bool_, np.float16]
    tensors = {}
    for i in range(n_tensors):
        dt = dtypes[(seed + i) % len(dtypes)]
        shape = (rng.integers(0, 6), dim)
        arr = (rng.random(shape) * 100).astype(dt)
        tensors[f"t{i}"] = arr
    meta = {"producer": "test", "seed": str(seed)}
    data = write_safetensors(tensors, meta)
    back, m = read_safetensors(data)
    assert m == meta
    assert set(back) == set(tensors)
    for k in tensors:
        assert back[k].dtype == tensors[k].dtype
        assert np.array_equal(back[k], tensors[k])


def test_scalar_and_empty_tensors():
    t = {"s": np.array(3.5, np.float32), "e": np.zeros((0, 4), np.int64)}
    back, _ = read_safetensors(write_safetensors(t))
    assert back["s"].shape == () and float(back["s"]) == 3.5
    assert back["e"].shape == (0, 4)


def test_header_is_sorted_canonical_json():
    data = write_safetensors({"b": np.zeros(1, np.uint8),
                              "a": np.ones(1, np.uint8)})
    (hlen,) = struct.unpack("<Q", data[:8])
    header = json.loads(data[8:8 + hlen])
    assert list(header) == sorted(header)


def test_validation_errors():
    good = write_safetensors({"t": np.arange(6, dtype=np.int32)})
    with pytest.raises(ValueError):  # truncated prefix
        read_safetensors(good[:4])
    with pytest.raises(ValueError):  # header exceeds payload
        read_safetensors(struct.pack("<Q", 10**6) + good[8:])
    with pytest.raises(ValueError):  # trailing junk = uncovered bytes
        read_safetensors(good + b"x")
    (hlen,) = struct.unpack("<Q", good[:8])
    header = json.loads(good[8:8 + hlen])
    header["t"]["shape"] = [7]  # offsets no longer match shape
    h2 = json.dumps(header, separators=(",", ":")).encode()
    h2 += b" " * (-len(h2) % 8)
    bad = struct.pack("<Q", len(h2)) + h2 + good[8 + hlen:]
    with pytest.raises(ValueError):
        read_safetensors(bad)
    with pytest.raises(ValueError):  # bf16 gated, never mis-parsed
        header2 = {"t": {"dtype": "BF16", "shape": [2],
                         "data_offsets": [0, 4]}}
        h3 = json.dumps(header2).encode()
        h3 += b" " * (-len(h3) % 8)
        read_safetensors(struct.pack("<Q", len(h3)) + h3 + b"\0" * 4)


def test_hole_between_spans_rejected():
    a = np.zeros(2, np.uint8)
    data = write_safetensors({"a": a, "b": a})
    (hlen,) = struct.unpack("<Q", data[:8])
    header = json.loads(data[8:8 + hlen])
    # widen the buffer and shift b, leaving a hole
    header["b"]["data_offsets"] = [4, 6]
    h2 = json.dumps(header, separators=(",", ":")).encode()
    h2 += b" " * (-len(h2) % 8)
    bad = struct.pack("<Q", len(h2)) + h2 + b"\0" * 6
    with pytest.raises(ValueError, match="overlap or"):
        read_safetensors(bad)


def test_hostile_files_raise_value_error():
    """Seeded fuzz: truncated and bit-flipped files decode or raise
    ValueError, never KeyError (a flipped ``data_offsets`` key)."""
    data = write_safetensors(
        {"a": np.arange(6, dtype=np.float32).reshape(2, 3),
         "b": np.arange(4, dtype=np.int64)}, {"k": "v"})
    counts = refusal_counts(read_safetensors, data, 300, seed=7)
    assert counts["ok"] and counts["ValueError"]
