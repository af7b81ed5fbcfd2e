"""Pure-Python GIF codec (GIF87a/GIF89a, the public W3C/CompuServe
spec) — the third lossless image format in the tree next to PNG and
the TIFF family, and a staple of web-crawl image payloads.

Implemented:

* LZW with variable code width (3-12 bits), CLEAR/EOI codes, code-size
  resets — both directions (the encoder emits a spec-minimal stream
  with a CLEAR per image and grows widths exactly as the table fills),
* logical screen + global/local color tables,
* image descriptors with interlace (the 4-pass row shuffle),
* GIF89a extensions: Graphic Control (per-frame delay, transparency
  index, disposal), looping via the NETSCAPE2.0 application extension,
  comment/plain-text blocks skipped structurally,
* multi-frame animations: each frame decodes to its palette-indexed
  array + its RGB view; frame REGIONS composite onto the logical
  screen per the disposal method (none/keep and restore-to-background).

Corrupt input raises ValueError (truncated sub-blocks, bad LZW codes,
missing trailer, and through ``bitio.refuse_damage`` any short header
or out-of-range field) — never hangs or mis-slices. Per-file work runs in
Arrow ``mapInPandas`` kernels; q387 value-checks a doc-parameterized
animation (frame count, dims, loop count, per-frame palette-index
probes) against an analytic oracle — exact because GIF is lossless.
"""

from __future__ import annotations

import struct

import numpy as np

from .bitio import refuse_damage


# --------------------------------------------------------------------------
# LZW
# --------------------------------------------------------------------------


def lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF-flavor LZW: emits CLEAR, codes with growing width, EOI."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out_bits: list[tuple[int, int]] = []

    def reset():
        return ({bytes([i]): i for i in range(clear)}, eoi + 1,
                min_code_size + 1)

    table, next_code, width = reset()
    out_bits.append((clear, width))
    prefix = b""
    for sym in indices:
        s = bytes([int(sym)])
        cand = prefix + s
        if cand in table:
            prefix = cand
            continue
        out_bits.append((table[prefix], width))
        table[cand] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        elif next_code > (1 << 12):
            out_bits.append((clear, width))
            table, next_code, width = reset()
        prefix = s
    if prefix:
        out_bits.append((table[prefix], width))
    out_bits.append((eoi, width))
    # pack LSB-first
    acc = 0
    nbits = 0
    data = bytearray()
    for code, w in out_bits:
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    return bytes(data)


def lzw_decode(data: bytes, min_code_size: int,
               n_expected: int) -> np.ndarray:
    """Inverse: returns exactly ``n_expected`` palette indices."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = np.empty(n_expected, dtype=np.uint8)
    n_out = 0
    acc = 0
    nbits = 0
    pos = 0

    def reset():
        return ([bytes([i]) for i in range(clear)] + [b"", b""],
                min_code_size + 1)

    table, width = reset()
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("GIF: LZW stream ended before EOI")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table, width = reset()
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table):
            entry = table[code]
            if not entry:
                raise ValueError(f"GIF: reserved LZW code {code}")
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"GIF: LZW code {code} out of table")
        if n_out + len(entry) > n_expected:
            entry = entry[:n_expected - n_out]  # spec: excess dropped
        out[n_out:n_out + len(entry)] = np.frombuffer(entry, np.uint8)
        n_out += len(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
        if n_out >= n_expected:
            # consume up to EOI without emitting (tolerate its absence
            # at the very end of well-sized streams)
            break
    if n_out != n_expected:
        raise ValueError(
            f"GIF: LZW produced {n_out} of {n_expected} pixels")
    return out


# --------------------------------------------------------------------------
# container
# --------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(height: int) -> np.ndarray:
    rows = []
    for start, step in _INTERLACE_PASSES:
        rows.extend(range(start, height, step))
    return np.asarray(rows, dtype=np.int64)


def _sub_blocks(payload: bytes) -> bytes:
    out = bytearray()
    n = len(payload)
    for i in range(0, n, 255):
        chunk = payload[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"
    return bytes(out)


def _read_sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("GIF: truncated sub-block chain")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        if pos + n > len(data):
            raise ValueError("GIF: truncated sub-block")
        out += data[pos:pos + n]
        pos += n


def encode_gif(frames: list[dict], palette: np.ndarray,
               loop: int | None = 0, interlace: bool = False) -> bytes:
    """GIF89a writer: frames = [{'pixels': HxW uint8 index array,
    'left', 'top', 'delay_cs', 'transparent'?}], one global palette
    (Nx3 uint8, N a power of two >= 2). ``loop`` None = no NETSCAPE
    extension; 0 = forever."""
    palette = np.asarray(palette, dtype=np.uint8)
    n_colors = palette.shape[0]
    if n_colors & (n_colors - 1) or not 2 <= n_colors <= 256:
        raise ValueError("GIF: palette size must be a power of two")
    depth = max(1, n_colors.bit_length() - 1)
    screen_w = max(f["left"] + f["pixels"].shape[1] for f in frames)
    screen_h = max(f["top"] + f["pixels"].shape[0] for f in frames)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", screen_w, screen_h)
    out += bytes([0x80 | (depth - 1) << 4 | (depth - 1), 0, 0])
    out += palette.tobytes()
    if loop is not None:
        out += (b"\x21\xff\x0bNETSCAPE2.0"
                + _sub_blocks(struct.pack("<BH", 1, loop)))
    for f in frames:
        px = np.asarray(f["pixels"], dtype=np.uint8)
        h, w = px.shape
        trans = f.get("transparent")
        flags = 0x01 if trans is not None else 0
        out += b"\x21\xf9" + _sub_blocks(struct.pack(
            "<BHB", (f.get("disposal", 1) << 2) | flags,
            f.get("delay_cs", 4), trans or 0))
        out += b"\x2c" + struct.pack(
            "<HHHH", f["left"], f["top"], w, h)
        out += bytes([0x40 if interlace else 0x00])
        rows = px[_interlace_order(h)] if interlace else px
        min_code = max(2, depth)
        out += bytes([min_code])
        out += _sub_blocks(lzw_encode(rows.ravel(), min_code))
    out += b"\x3b"
    return bytes(out)


@refuse_damage("corrupt GIF")
def decode_gif(data: bytes) -> dict:
    """{'width', 'height', 'palette', 'loop', 'frames': [{'left',
    'top', 'pixels' (region index array), 'delay_cs', 'transparent',
    'canvas' (composited full-screen index array)}]}."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("GIF: bad signature")
    w, h = struct.unpack_from("<HH", data, 6)
    flags = data[10]
    bg = data[11]
    pos = 13
    palette = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        palette = np.frombuffer(
            data, np.uint8, n * 3, pos).reshape(n, 3).copy()
        pos += n * 3
    loop = None
    frames = []
    gce: dict = {}
    # Allocate the canvas lazily, at the first image descriptor: a
    # malformed stream with garbage screen dimensions (up to
    # 65535x65535 from 4 attacker/noise bytes) must fail at block
    # parsing, not after a multi-GB np.full (measured 26 s on a
    # 21-byte junk payload).
    canvas: np.ndarray | None = None
    while True:
        if pos >= len(data):
            raise ValueError("GIF: missing trailer")
        b = data[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = data[pos]
            pos += 1
            payload, pos = _read_sub_blocks(data, pos)
            if label == 0xF9 and len(payload) >= 4:
                pf, delay, ti = struct.unpack_from("<BHB", payload, 0)
                gce = {"delay_cs": delay,
                       "transparent": ti if pf & 1 else None,
                       "disposal": (pf >> 2) & 7}
            elif label == 0xFF and payload[:11] == b"NETSCAPE2.0":
                loop = struct.unpack_from("<H", payload, 12)[0]
            continue
        if b != 0x2C:
            raise ValueError(f"GIF: unknown block 0x{b:02x}")
        left, top, fw, fh = struct.unpack_from("<HHHH", data, pos)
        pos += 8
        lflags = data[pos]
        pos += 1
        pal = palette
        if lflags & 0x80:
            n = 2 << (lflags & 7)
            pal = np.frombuffer(
                data, np.uint8, n * 3, pos).reshape(n, 3).copy()
            pos += n * 3
        if left + fw > w or top + fh > h:
            raise ValueError(
                f"GIF: frame rect {fw}x{fh}+{left}+{top} exceeds the "
                f"{w}x{h} logical screen")
        if canvas is None:
            canvas = np.full((h, w), bg, dtype=np.uint8)
        min_code = data[pos]
        pos += 1
        lzw, pos = _read_sub_blocks(data, pos)
        px = lzw_decode(lzw, min_code, fw * fh).reshape(fh, fw)
        if lflags & 0x40:  # interlaced: invert the 4-pass shuffle
            dest = np.empty_like(px)
            dest[_interlace_order(fh)] = px
            px = dest
        trans = gce.get("transparent")
        # disposal 3 = restore-to-previous: the canvas reverts to its
        # pre-draw state AFTER this frame displays, so snapshot first.
        prev = canvas.copy() if gce.get("disposal") == 3 else None
        region = canvas[top:top + fh, left:left + fw]
        if trans is not None:
            m = px != trans
            region[m] = px[m]
        else:
            region[:] = px
        frames.append({
            "left": left, "top": top, "pixels": px,
            "delay_cs": gce.get("delay_cs", 0),
            "transparent": trans,
            "palette": pal,
            "canvas": canvas.copy(),
        })
        if gce.get("disposal") == 2:  # restore to background
            canvas[top:top + fh, left:left + fw] = bg
        elif prev is not None:  # disposal 3: restore to previous
            canvas[:] = prev
        gce = {}
    return {"width": w, "height": h, "palette": palette,
            "loop": loop, "frames": frames}


def gif_to_rgb(frame: dict) -> np.ndarray:
    """RGB view of a frame's composited canvas via its palette."""
    return frame["palette"][frame["canvas"]]
