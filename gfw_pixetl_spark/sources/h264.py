"""H.264/AVC bitstream indexing: AVCC config, NAL walk, SPS decode,
slice-header prefix parse — keyframe-aware sample extraction WITHOUT
pixel decode.

What a 100 TB video-corpus pipeline actually needs from H.264 is
INDEXING, not decoding: find the IDR (key) frames so sampling can land
on self-contained pictures, recover the true coded resolution from the
SPS (the container's width/height fields are advisory), and classify
NAL traffic (slices vs SEI vs parameter sets) for corpus statistics.
This module implements exactly that surface from the public bitstream
syntax (ITU-T H.264 / ISO 14496-10 §7.3, Annex B/AVCC framing per
ISO 14496-15 §5.3): RBSP emulation-prevention, Exp-Golomb, the
SPS/PPS/slice-header prefix grammars, and the avcC record. Entropy-
coded macroblock data stays honestly opaque — the extraction pipeline
never needs it. The reference ships no video path at all; this extends
the S4 "read the minimal bytes" discipline (windowed raster reads,
ranged-GET COG headers) to the video modality, like
``sources/bmff.py``'s frame sampler.

A fixture-side encoder (``build_sps``/``build_pps``/``build_slice``/
``build_avcc``) writes the same grammars bit-exactly so tests and the
oracle-checked queries can cross-validate parse(build(x)) == x without
any codec library in the container.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

from .bitio import MsbReader, MsbWriter

NAL_NON_IDR = 1
NAL_IDR = 5
NAL_SEI = 6
NAL_SPS = 7
NAL_PPS = 8
NAL_AUD = 9

# slice_type: 0/5 P, 1/6 B, 2/7 I, 3/8 SP, 4/9 SI (§7.4.3)
SLICE_NAMES = ("P", "B", "I", "SP", "SI")


def slice_type_name(slice_type: int) -> str:
    return SLICE_NAMES[slice_type % 5]


# --- RBSP <-> SODB: emulation prevention (§7.3.1 / §7.4.1) -----------------

def ebsp_to_rbsp(data: bytes) -> bytes:
    """Strip emulation_prevention_three_byte: 00 00 03 -> 00 00."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        if i + 2 < n and data[i] == 0 and data[i + 1] == 0 \
                and data[i + 2] == 3:
            out += b"\x00\x00"
            i += 3
        else:
            out.append(data[i])
            i += 1
    return bytes(out)


def rbsp_to_ebsp(data: bytes) -> bytes:
    """Insert emulation prevention so no 00 00 0[0-3] survives."""
    out = bytearray()
    zeros = 0
    for b in data:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _nal(ref_idc: int, nal_type: int, rbsp: bytes) -> bytes:
    return bytes([(ref_idc << 5) | nal_type]) + rbsp_to_ebsp(rbsp)


# --- SPS (§7.3.2.1.1) ------------------------------------------------------

@dataclass
class SPS:
    profile_idc: int
    level_idc: int
    sps_id: int
    log2_max_frame_num: int
    pic_order_cnt_type: int
    width: int
    height: int
    frame_mbs_only: bool


def build_sps(width: int, height: int, profile_idc: int = 66,
              level_idc: int = 30, sps_id: int = 0,
              log2_max_frame_num: int = 8) -> bytes:
    """Baseline/Main SPS NAL for a frame-coded 4:2:0 stream; odd-of-16
    dimensions are expressed through frame cropping exactly as encoders
    do (crop units: 2 horizontal, 2 vertical for frame_mbs_only 4:2:0).
    """
    if width % 2 or height % 2:
        raise ValueError("4:2:0 frame cropping works in 2-px units")
    w_mbs = (width + 15) // 16
    h_mbs = (height + 15) // 16
    crop_r = (w_mbs * 16 - width) // 2
    crop_b = (h_mbs * 16 - height) // 2
    w = MsbWriter()
    w.write(profile_idc, 8)
    w.write(0, 8)                      # constraint flags + reserved
    w.write(level_idc, 8)
    w.ue(sps_id)
    w.ue(log2_max_frame_num - 4)   # log2_max_frame_num_minus4
    w.ue(2)                        # pic_order_cnt_type 2: no POC fields
    w.ue(1)                        # max_num_ref_frames
    w.write(0, 1)                      # gaps_in_frame_num_value_allowed
    w.ue(w_mbs - 1)                # pic_width_in_mbs_minus1
    w.ue(h_mbs - 1)                # pic_height_in_map_units_minus1
    w.write(1, 1)                      # frame_mbs_only_flag
    w.write(1, 1)                      # direct_8x8_inference_flag
    if crop_r or crop_b:
        w.write(1, 1)                  # frame_cropping_flag
        for v in (0, crop_r, 0, crop_b):
            w.ue(v)
    else:
        w.write(0, 1)
    w.write(0, 1)                      # vui_parameters_present_flag
    w.write(1, 1)                  # rbsp_stop_one_bit, then zero pad
    return _nal(3, NAL_SPS, w.getvalue())


def parse_sps(nal: bytes) -> SPS:
    if nal[0] & 0x1F != NAL_SPS:
        raise ValueError("not an SPS NAL")
    r = MsbReader(ebsp_to_rbsp(nal[1:]), "h264")
    profile_idc = r.read(8)
    r.read(8)
    level_idc = r.read(8)
    sps_id = r.ue()
    if profile_idc in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        # high-profile chroma/bit-depth block (§7.3.2.1.1)
        chroma = r.ue()
        if chroma == 3:
            r.read(1)
        r.ue()
        r.ue()
        r.read(1)
        if r.read(1):  # seq_scaling_matrix_present
            raise NotImplementedError(
                "SPS scaling matrices not supported by this indexer")
    log2_mfn = r.ue() + 4
    poc_type = r.ue()
    if poc_type == 0:
        r.ue()
    elif poc_type == 1:
        r.read(1)
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
    r.ue()                          # max_num_ref_frames
    r.read(1)
    w_mbs = r.ue() + 1
    h_map = r.ue() + 1
    frame_mbs_only = bool(r.read(1))
    if not frame_mbs_only:
        r.read(1)                      # mb_adaptive_frame_field_flag
    r.read(1)                          # direct_8x8_inference
    crop_l = crop_r = crop_t = crop_b = 0
    if r.read(1):
        crop_l, crop_r, crop_t, crop_b = r.ue(), r.ue(), r.ue(), r.ue()
    h_mbs = h_map * (1 if frame_mbs_only else 2)
    # 4:2:0 crop units: x2 horizontally, 2*(2 - frame_mbs_only) vertically
    cw = 2
    ch = 2 * (2 - int(frame_mbs_only))
    return SPS(
        profile_idc=profile_idc, level_idc=level_idc, sps_id=sps_id,
        log2_max_frame_num=log2_mfn, pic_order_cnt_type=poc_type,
        width=w_mbs * 16 - cw * (crop_l + crop_r),
        height=h_mbs * 16 - ch * (crop_t + crop_b),
        frame_mbs_only=frame_mbs_only,
    )


# --- PPS (§7.3.2.2) --------------------------------------------------------

def build_pps(pps_id: int = 0, sps_id: int = 0) -> bytes:
    w = MsbWriter()
    w.ue(pps_id)
    w.ue(sps_id)
    w.write(0, 1)       # entropy_coding_mode_flag (CAVLC)
    w.write(0, 1)       # bottom_field_pic_order_in_frame_present
    w.ue(0)         # num_slice_groups_minus1
    w.ue(0)         # num_ref_idx_l0_default_active_minus1
    w.ue(0)         # num_ref_idx_l1_default_active_minus1
    w.write(0, 1)       # weighted_pred_flag
    w.write(0, 2)       # weighted_bipred_idc
    for _ in range(3):  # qp/qs/chroma_qp offsets
        w.se(0)
    w.write(1, 1)       # deblocking_filter_control_present
    w.write(0, 1)       # constrained_intra_pred
    w.write(0, 1)       # redundant_pic_cnt_present
    w.write(1, 1)   # rbsp_stop_one_bit, then zero pad
    return _nal(3, NAL_PPS, w.getvalue())


# --- slice header prefix (§7.3.3) ------------------------------------------

@dataclass
class SliceHeader:
    first_mb: int
    slice_type: int
    pps_id: int
    frame_num: int
    idr_pic_id: int | None


def build_slice(idr: bool, frame_num: int, log2_max_frame_num: int,
                payload: bytes, slice_type: int | None = None,
                pps_id: int = 0, idr_pic_id: int = 0) -> bytes:
    """Slice NAL whose header prefix is real bitstream syntax; the
    macroblock data that follows is the given opaque payload (this
    indexer never reads it, mirroring real extraction)."""
    st = slice_type if slice_type is not None else (7 if idr else 5)
    w = MsbWriter()
    w.ue(0)                                 # first_mb_in_slice
    w.ue(st)
    w.ue(pps_id)
    w.write(frame_num % (1 << log2_max_frame_num), log2_max_frame_num)
    if idr:
        w.ue(idr_pic_id)
    w.write(1, 1)  # stop bit + zero pad; payload bytes follow as slice data
    return _nal(3 if idr else 2, NAL_IDR if idr else NAL_NON_IDR,
                w.getvalue() + payload)


def parse_slice_header(nal: bytes, log2_max_frame_num: int) -> SliceHeader:
    t = nal[0] & 0x1F
    if t not in (NAL_NON_IDR, NAL_IDR):
        raise ValueError("not a coded-slice NAL")
    r = MsbReader(ebsp_to_rbsp(nal[1:min(len(nal), 32)]), "h264")
    first_mb = r.ue()
    st = r.ue()
    pps_id = r.ue()
    frame_num = r.read(log2_max_frame_num)
    idr_pic_id = r.ue() if t == NAL_IDR else None
    return SliceHeader(first_mb, st, pps_id, frame_num, idr_pic_id)


def build_sei(payload_type: int = 5, payload: bytes = b"\x00" * 16) -> bytes:
    """user_data or timing SEI message (§7.3.2.3); sizes < 255."""
    body = bytes([payload_type, len(payload)]) + payload + b"\x80"
    return _nal(0, NAL_SEI, body)


# --- AVCC (avcC record + length-prefixed samples, 14496-15 §5.3) -----------

def build_avcc(sps_list: list[bytes], pps_list: list[bytes],
               length_size: int = 4) -> bytes:
    sps0 = parse_sps(sps_list[0])
    rbsp = ebsp_to_rbsp(sps_list[0][1:])
    out = bytearray()
    out += bytes([1, rbsp[0], rbsp[1], rbsp[2],
                  0xFC | (length_size - 1), 0xE0 | len(sps_list)])
    for s in sps_list:
        out += struct.pack(">H", len(s)) + s
    out.append(len(pps_list))
    for p in pps_list:
        out += struct.pack(">H", len(p)) + p
    del sps0
    return bytes(out)


def parse_avcc(rec: bytes) -> dict:
    if rec[0] != 1:
        raise ValueError("bad avcC configurationVersion")
    length_size = (rec[4] & 3) + 1
    n_sps = rec[5] & 0x1F
    p = 6
    sps = []
    for _ in range(n_sps):
        (ln,) = struct.unpack(">H", rec[p:p + 2])
        sps.append(rec[p + 2:p + 2 + ln])
        p += 2 + ln
    n_pps = rec[p]
    p += 1
    pps = []
    for _ in range(n_pps):
        (ln,) = struct.unpack(">H", rec[p:p + 2])
        pps.append(rec[p + 2:p + 2 + ln])
        p += 2 + ln
    return {"length_size": length_size, "sps": sps, "pps": pps,
            "profile_idc": rec[1], "level_idc": rec[3]}


def avcc_sample(nals: list[bytes], length_size: int = 4) -> bytes:
    out = bytearray()
    for n in nals:
        out += len(n).to_bytes(length_size, "big") + n
    return bytes(out)


def iter_sample_nals(sample: bytes, length_size: int = 4):
    """Yield (nal_type, nal_ref_idc, nal_bytes) per AVCC-framed NAL."""
    p = 0
    while p < len(sample):
        if p + length_size > len(sample):
            raise ValueError("truncated NAL length prefix")
        ln = int.from_bytes(sample[p:p + length_size], "big")
        p += length_size
        if p + ln > len(sample):
            raise ValueError("NAL overruns sample")
        nal = sample[p:p + ln]
        p += ln
        yield nal[0] & 0x1F, (nal[0] >> 5) & 3, nal


def index_sample(sample: bytes, length_size: int = 4) -> dict:
    """One sample's NAL census: is it a sync (IDR) sample, which slice
    types appear, does it carry in-band parameter sets / SEI."""
    kinds = []
    idr = False
    has_sei = has_sps = has_pps = False
    for t, _ref, _nal in iter_sample_nals(sample, length_size):
        kinds.append(t)
        idr = idr or t == NAL_IDR
        has_sei = has_sei or t == NAL_SEI
        has_sps = has_sps or t == NAL_SPS
        has_pps = has_pps or t == NAL_PPS
    return {"idr": idr, "nal_types": kinds, "has_sei": has_sei,
            "has_sps": has_sps, "has_pps": has_pps}


def avc_fourcc_entry_extra(avcc: bytes) -> bytes:
    """The avcC child box for a VisualSampleEntry (bmff entry_extra)."""
    return struct.pack(">I4s", 8 + len(avcc), b"avcC") + avcc
