"""MP4 / ISO-BMFF container codec — pure stdlib + numpy.

The MP4 family (ISO/IEC 14496-12: .mp4/.m4v/.mov) is the container
real multimodal corpora actually ship, so the video path needs a real
probe and — where the essence is intra-frame — a real decode.  This
module implements the box grammar and the part that is genuinely
subtle: the sample-table walk (stts/stsc/stsz/stco|co64 → absolute
per-sample byte ranges), which is where naive parsers break on
multi-sample chunks and stsc runs.

Three essence kinds decode end-to-end with no native libs:

- ``'jpeg'`` — Photo JPEG (each sample a standalone JFIF), via the
  repo's own pure-numpy operators/jpeg.py: genuinely COMPRESSED video;
- ``'raw '`` — uncompressed packed 24-bit RGB, top-down rows (the
  QuickTime raw-video entry at depth 24);
- ``'avc1'`` — baseline H.264 via operators/h264.py (CAVLC, full
  intra prediction, AND P-slice inter prediction with quarter-pel
  motion compensation; avcC parsed from the sample entry).  All-intra
  and IDR+P tracks both decode — a stateful per-track walk carries
  the reference DPB across samples; B slices, CABAC, and
  deblocking-enabled streams raise NotImplementedError inside decode.

Other inter-frame codecs (hev1/vp09/av01/mp4v) probe fine — width,
height, fps, frame count, codec all report — but decode raises
NotImplementedError: the honest fence is the same one video.py draws
for AVI ('inter-frame essence', not 'video').  Reference parity:
marketstore itself has no video path at all; this extends the repo's
multimodal family (SURVEY §2 rows 62–66).

Parser robustness beyond what the encoder emits, all spec-mandated
shapes: 64-bit ``largesize`` boxes, size-0 ("to end of file") boxes,
version-1 mvhd/tkhd/mdhd (64-bit times), co64 chunk offsets, uniform
stsz (sample_size != 0), and multi-run stts.  Corrupt structures raise
ValueError so mapInPandas callers keep the decoded_ok=0 contract.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np

from marketstore_spark.operators.codecutil import corrupt_guard

# top-level fourccs that identify an ISO-BMFF stream (sniff set)
TOPLEVEL_BOXES = {
    b"ftyp", b"styp", b"moov", b"mdat", b"free", b"skip", b"wide",
    b"moof", b"mfra", b"meta", b"pdin", b"sidx",
}

#: decodable essence (fourcc, space-stripped): Photo-JPEG, raw RGB24,
#: and baseline H.264 (IDR + P slices, operators/h264.py — B/CABAC/
#: deblocking-enabled samples still raise inside decode).  'avc3' is
#: the in-band-parameter-set variant DASH packagers emit: the avcC
#: record is empty and SPS/PPS arrive inside the samples.
_INTRA_CODECS = ("jpeg", "raw", "avc1", "avc3")


# ---------------------------------------------------------------------
# box-grammar primitives
# ---------------------------------------------------------------------

def _box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def _full(fourcc: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(fourcc, struct.pack(">B3s", version, flags.to_bytes(3, "big")) + payload)


def _iter_boxes(data: bytes, pos: int, end: int) -> Iterator[tuple[bytes, int, int]]:
    """Yield (fourcc, payload_start, payload_end); handles largesize
    (size==1) and to-end-of-enclosure (size==0) boxes.  Raises
    ValueError on truncation / nonsense sizes."""
    while pos < end:
        if pos + 8 > end:
            raise ValueError("ISO-BMFF box header truncated")
        (size,) = struct.unpack_from(">I", data, pos)
        fourcc = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if body + 8 > end:
                raise ValueError("largesize truncated")
            (size,) = struct.unpack_from(">Q", data, body)
            body += 8
            if size < 16:
                raise ValueError("largesize smaller than its header")
        elif size == 0:  # box extends to end of enclosing scope
            size = end - pos
        elif size < 8:
            raise ValueError(f"box size {size} smaller than its header")
        if pos + size > end:
            raise ValueError("box overruns its enclosure")
        yield fourcc, body, pos + size
        pos += size


def _children(data: bytes, start: int, end: int) -> dict[bytes, tuple[int, int]]:
    """First child of each fourcc in a container box."""
    out: dict[bytes, tuple[int, int]] = {}
    for fourcc, s, e in _iter_boxes(data, start, end):
        out.setdefault(fourcc, (s, e))
    return out


def _fullbox_header(data: bytes, start: int) -> tuple[int, int]:
    """(version, payload_pos_after_version_and_flags)."""
    return data[start], start + 4


# ---------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------

def encode_mp4(
    frames: np.ndarray,
    fps: int = 25,
    codec: str = "jpeg",
    quality: int = 85,
    samples_per_chunk: int = 3,
    use_co64: bool = False,
    version1: bool = False,
    fragmented: bool = False,
    keyint: int | None = None,
) -> bytes:
    """(n, H, W, 3) uint8 RGB frames → ISO-BMFF bytes.

    ``codec='jpeg'`` writes Photo-JPEG samples (operators/jpeg.py at
    ``quality``); ``codec='raw'`` writes packed top-down RGB24.
    Samples are grouped ``samples_per_chunk`` per chunk so the emitted
    stsc has real runs (a trailing short chunk gets its own run) —
    deliberately NOT the one-sample-per-chunk degenerate layout, so
    round-trip tests exercise the same chunk math wild files need.
    ``use_co64`` / ``version1`` switch to the 64-bit offset / time
    boxes for parser-breadth tests.  ``fragmented=True`` writes the
    DASH/CMAF layout instead: empty stbl tables + mvex/trex in moov,
    then one moof(mfhd/tfhd/tfdt/trun)+mdat pair per
    ``samples_per_chunk`` frames — default-base-is-moof addressing,
    per-sample trun sizes, tfhd default duration."""
    if codec not in ("jpeg", "raw", "h264"):
        raise ValueError("codec must be 'jpeg', 'raw', or 'h264'")
    if samples_per_chunk < 1:
        raise ValueError("samples_per_chunk must be >= 1")
    n, h, w, _ = frames.shape

    extra = b""
    if codec == "jpeg":
        from marketstore_spark.operators.jpeg import encode_jpeg

        samples = [encode_jpeg(f, quality=quality) for f in frames]
        fourcc, compressor = b"jpeg", b"Photo JPEG"
    elif codec == "h264":
        # baseline H.264 stream (operators/h264.py), stored the
        # ISO/IEC 14496-15 way: avcC in the sample entry, one
        # length-prefixed sample per picture.  quality maps to QP
        # (quality 85 -> QP ~22): higher quality, lower QP.  With the
        # default keyint=None every sample is IDR (all-intra); with
        # keyint=k only every k-th is, the rest are P slices, and the
        # IDR samples are listed in an stss sync-sample box.
        from marketstore_spark.operators.h264 import (
            annexb_to_avcc_samples,
            encode_h264,
        )

        qp = max(0, min(51, 51 - round(quality * 34 / 100)))
        annexb = encode_h264(frames, qp=qp, keyint=keyint)
        avcc, samples = annexb_to_avcc_samples(annexb)
        extra = _box(b"avcC", avcc)
        fourcc, compressor = b"avc1", b"AVC Coding"
        if keyint is not None:
            sync = [i + 1 for i in range(n) if i % keyint == 0]
            return mux_mp4_samples(
                samples, w, h, fps=fps, fourcc=fourcc,
                compressor=compressor, uniform=False,
                samples_per_chunk=samples_per_chunk, use_co64=use_co64,
                version1=version1, fragmented=fragmented,
                extra_entry_boxes=extra, sync_samples=sync,
            )
    else:
        samples = [f.tobytes() for f in frames]
        fourcc, compressor = b"raw ", b"raw RGB24"
    return mux_mp4_samples(
        samples, w, h, fps=fps, fourcc=fourcc, compressor=compressor,
        uniform=(codec == "raw"), samples_per_chunk=samples_per_chunk,
        use_co64=use_co64, version1=version1, fragmented=fragmented,
        extra_entry_boxes=extra,
    )


def mux_mp4_samples(
    samples: list[bytes],
    w: int,
    h: int,
    fps: int = 25,
    fourcc: bytes = b"jpeg",
    compressor: bytes = b"Photo JPEG",
    uniform: bool = False,
    samples_per_chunk: int = 3,
    use_co64: bool = False,
    version1: bool = False,
    fragmented: bool = False,
    extra_entry_boxes: bytes = b"",
    sync_samples: list[int] | None = None,
) -> bytes:
    """Mux already-encoded video samples (one bytes payload per frame)
    into an ISO-BMFF file — the container math separated from the
    essence encode, so conformance tests can feed REAL wild payloads
    (arbitrary producers, heterogeneous sizes) through the exact
    sample-table/fragment writer the codec path uses.
    ``extra_entry_boxes`` is appended inside the visual sample entry
    (the avcC decoder-configuration box for 'avc1' tracks)."""
    n = len(samples)

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")

    if fragmented:
        # empty stbl tables: all samples live in moof/traf/trun
        mdat = b""
        stts = _full(b"stts", 0, 0, struct.pack(">I", 0))
        stsc = _full(b"stsc", 0, 0, struct.pack(">I", 0))
        stsz = _full(b"stsz", 0, 0, struct.pack(">II", 0, 0))
        stco = _full(b"stco", 0, 0, struct.pack(">I", 0))
    else:
        # mdat with chunked layout; absolute chunk offsets known up
        # front because ftyp and the mdat header have fixed sizes.
        chunk_offsets: list[int] = []
        mdat_body = bytearray()
        base = len(ftyp) + 8
        for i in range(0, n, samples_per_chunk):
            chunk_offsets.append(base + len(mdat_body))
            for p in samples[i : i + samples_per_chunk]:
                mdat_body += p
        mdat = _box(b"mdat", bytes(mdat_body))

        # ---- sample tables ---------------------------------------------
        stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n, 1))
        runs = [(1, min(samples_per_chunk, n), 1)]
        if n > samples_per_chunk and n % samples_per_chunk:
            runs.append((n // samples_per_chunk + 1, n % samples_per_chunk, 1))
        stsc = _full(
            b"stsc", 0, 0,
            struct.pack(">I", len(runs))
            + b"".join(struct.pack(">III", *r) for r in runs),
        )
        sizes = [len(p) for p in samples]
        if uniform:  # exercise the sample_size != 0 form
            stsz = _full(b"stsz", 0, 0, struct.pack(">II", sizes[0] if n else 0, n))
        else:
            stsz = _full(
                b"stsz", 0, 0,
                struct.pack(">II", 0, n) + struct.pack(f">{n}I", *sizes),
            )
        if use_co64:
            stco = _full(
                b"co64", 0, 0,
                struct.pack(">I", len(chunk_offsets))
                + struct.pack(f">{len(chunk_offsets)}Q", *chunk_offsets),
            )
        else:
            stco = _full(
                b"stco", 0, 0,
                struct.pack(">I", len(chunk_offsets))
                + struct.pack(f">{len(chunk_offsets)}I", *chunk_offsets),
            )

    name32 = bytes([len(compressor)]) + compressor
    entry = _box(
        fourcc,
        b"\x00" * 6 + struct.pack(">H", 1)          # reserved + data_ref_index
        + b"\x00" * 16                                # pre_defined/reserved block
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)                        # frame_count per sample
        + name32 + b"\x00" * (32 - len(name32))
        + struct.pack(">Hh", 24, -1)                  # depth, pre_defined
        + extra_entry_boxes,                          # e.g. avcC
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    # stss: 1-based sync-sample numbers (8.6.2 — absent means every
    # sample is a random-access point, so only P-frame tracks write it)
    stss = b""
    if sync_samples is not None and not fragmented:
        stss = _full(
            b"stss", 0, 0,
            struct.pack(">I", len(sync_samples))
            + struct.pack(f">{len(sync_samples)}I", *sync_samples),
        )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco + stss)

    # ---- movie/track headers (timescale = fps, delta = 1) --------------
    matrix = struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    if version1:
        mvhd = _full(
            b"mvhd", 1, 0,
            struct.pack(">QQIQ", 0, 0, fps, n)
            + struct.pack(">iHH8x", 0x10000, 0x100, 0) + matrix
            + b"\x00" * 24 + struct.pack(">I", 2),
        )
        tkhd = _full(
            b"tkhd", 1, 7,
            struct.pack(">QQI4xQ", 0, 0, 1, n)
            + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0) + matrix
            + struct.pack(">II", w << 16, h << 16),
        )
        mdhd = _full(
            b"mdhd", 1, 0,
            struct.pack(">QQIQHH", 0, 0, fps, n, 0x55C4, 0),
        )
    else:
        mvhd = _full(
            b"mvhd", 0, 0,
            struct.pack(">IIII", 0, 0, fps, n)
            + struct.pack(">iHH8x", 0x10000, 0x100, 0) + matrix
            + b"\x00" * 24 + struct.pack(">I", 2),
        )
        tkhd = _full(
            b"tkhd", 0, 7,
            struct.pack(">III4xI", 0, 0, 1, n)
            + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0) + matrix
            + struct.pack(">II", w << 16, h << 16),
        )
        mdhd = _full(b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, fps, n, 0x55C4, 0))

    hdlr = _full(b"hdlr", 0, 0, b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"Video\x00")
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b""))
    minf = _box(b"minf", vmhd + _box(b"dinf", dref) + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    if not fragmented:
        # chunk offsets were computed for mdat directly after ftyp
        return ftyp + mdat + _box(b"moov", mvhd + trak)

    trex = _full(b"trex", 0, 0, struct.pack(">5I", 1, 1, 1, 0, 0))
    moov = _box(b"moov", mvhd + trak + _box(b"mvex", trex))
    out = bytearray(ftyp + moov)
    t = 0
    for gi in range(0, n, samples_per_chunk):
        group = samples[gi : gi + samples_per_chunk]
        mfhd = _full(b"mfhd", 0, 0, struct.pack(">I", gi // samples_per_chunk + 1))
        # default-base-is-moof (0x020000) + default-sample-duration (0x08)
        tfhd = _full(b"tfhd", 0, 0x020008, struct.pack(">II", 1, 1))
        tfdt = _full(b"tfdt", 0, 0, struct.pack(">I", t))
        size_tbl = b"".join(struct.pack(">I", len(p)) for p in group)

        def _moof(data_offset: int) -> bytes:
            trun = _full(
                b"trun", 0, 0x000201,  # data-offset + sample-size present
                struct.pack(">Ii", len(group), data_offset) + size_tbl,
            )
            return _box(b"moof", mfhd + _box(b"traf", tfhd + tfdt + trun))

        # the data offset is the moof's own size + the mdat header; the
        # moof size doesn't depend on the offset value, so two passes pin it
        moof = _moof(len(_moof(0)) + 8)
        out += moof + _box(b"mdat", b"".join(group))
        t += len(group)
    return bytes(out)


# ---------------------------------------------------------------------
# probe
# ---------------------------------------------------------------------

def _video_stbl(data: bytes) -> tuple[dict, dict[bytes, tuple[int, int]]]:
    """Locate the first 'vide' track; return (header info, stbl children)."""
    return _track_stbl(data, b"vide")


def _track_stbl(
    data: bytes, handler: bytes
) -> tuple[dict, dict[bytes, tuple[int, int]]]:
    top = _children(data, 0, len(data))
    if b"moov" not in top:
        raise ValueError("ISO-BMFF stream has no moov box")
    moov_s, moov_e = top[b"moov"]
    handlers_seen: list[bytes] = []
    for fourcc, s, e in _iter_boxes(data, moov_s, moov_e):
        if fourcc != b"trak":
            continue
        kids = _children(data, s, e)
        if b"tkhd" not in kids or b"mdia" not in kids:
            continue
        mkids = _children(data, *kids[b"mdia"])
        if b"hdlr" not in mkids or b"mdhd" not in mkids:
            continue
        hs, _he = mkids[b"hdlr"]
        got = data[hs + 8 : hs + 12]
        handlers_seen.append(got)
        if got != handler:
            continue
        ts, _te = kids[b"tkhd"]
        tver, tp = _fullbox_header(data, ts)
        (track_id,) = struct.unpack_from(">I", data, tp + (16 if tver else 8))
        # tkhd: skip times+id+reserved+duration, then 8 reserved,
        # 2+2+2+2 layer/group/volume/reserved, 36 matrix → width/height
        tp += (32 if tver else 20) + 8 + 8 + 36
        width, height = struct.unpack_from(">II", data, tp)
        ms, _me = mkids[b"mdhd"]
        mver, mp = _fullbox_header(data, ms)
        if mver:
            (timescale,) = struct.unpack_from(">I", data, mp + 16)
            (duration,) = struct.unpack_from(">Q", data, mp + 20)
        else:
            timescale, duration = struct.unpack_from(">II", data, mp + 8)
        minf = _children(data, *mkids[b"minf"]) if b"minf" in mkids else {}
        if b"stbl" not in minf:
            raise ValueError("video track missing stbl")
        stbl = _children(data, *minf[b"stbl"])
        return (
            {
                "width": width >> 16,
                "height": height >> 16,
                "timescale": timescale,
                "duration": duration,
                "track_id": track_id,
            },
            stbl,
        )
    if handler == b"vide" and handlers_seen and b"soun" in handlers_seen:
        raise NotImplementedError(
            "ISO-BMFF stream has no video track (audio-only mp4a/AAC needs a codec)"
        )
    raise ValueError(f"moov contains no parseable {handler.decode()!r} track")


def _stsd_codec(data: bytes, stbl: dict) -> str:
    if b"stsd" not in stbl:
        raise ValueError("stbl missing stsd")
    s, e = stbl[b"stsd"]
    (count,) = struct.unpack_from(">I", data, s + 4)
    if count < 1 or s + 8 + 8 > e:
        raise ValueError("empty stsd")
    return data[s + 12 : s + 16].decode("ascii", "replace").strip()


def _stsd_avcc(data: bytes, stbl: dict) -> bytes:
    """The avcC decoder-configuration payload from an 'avc1' sample
    entry (ISO/IEC 14496-15): the VisualSampleEntry carries 78 fixed
    bytes after its box header, then child boxes."""
    s, e = stbl[b"stsd"]
    entry_s = s + 8  # first sample entry box header
    (entry_size,) = struct.unpack_from(">I", data, entry_s)
    entry_end = min(entry_s + entry_size, e)
    for fourcc, cs, ce in _iter_boxes(data, entry_s + 8 + 78, entry_end):
        if fourcc == b"avcC":
            return data[cs:ce]
    raise ValueError("avc1 sample entry lacks an avcC box")


def _sample_count(data: bytes, stbl: dict) -> int:
    if b"stsz" not in stbl:
        raise ValueError("stbl missing stsz")
    s, _ = stbl[b"stsz"]
    _, count = struct.unpack_from(">II", data, s + 4)
    return count


def merge_mp4_tracks(video_mp4: bytes, audio_mp4: bytes) -> bytes:
    """Remux two single-track ISO-BMFF files (one 'vide', one 'soun' —
    the encoders above) into ONE two-track movie: the layout every
    real crawled .mp4 has, and the case the per-handler track walk in
    :func:`_track_stbl` exists for.

    Pure container surgery, no sample re-encode: the merged file is
    ``ftyp_v + mdat_v + mdat_a + moov(mvhd_v + trak_v + trak_a')``.
    The video track's absolute chunk offsets are unchanged by
    construction (same prefix); the audio track's stco entries are
    REBASED by the byte delta of its mdat payload, and its tkhd
    track_ID is rewritten to 2 so the movie has distinct ids.

    Inputs with more than one top-level mdat raise ValueError — the
    copied stco tables can only be rebased for a single contiguous
    payload, so accepting a second mdat would emit silently wrong
    samples instead of an error.  Largesize (16-byte header) mdats
    are handled; the header span is computed, never assumed 8."""

    def _top_all(data, fourcc):
        # (header_start, payload_start, payload_end) per box — header
        # start is the previous top-level box's end (boxes are
        # contiguous), which stays correct for 16-byte largesize
        # headers where payload_start−8 would not be
        out, prev_end = [], 0
        for fc, s, e in _iter_boxes(data, 0, len(data)):
            if fc == fourcc:
                out.append((prev_end, s, e))
            prev_end = e
        return out

    def _top(data, fourcc):
        boxes = _top_all(data, fourcc)
        if not boxes:
            raise ValueError(f"input lacks a top-level {fourcc.decode()} box")
        if len(boxes) > 1 and fourcc == b"mdat":
            # a second mdat would leave the copied stco entries of the
            # first-mdat track pointing into foreign bytes after the
            # remux — refuse loudly rather than emit silent wrong
            # samples
            raise ValueError(
                "merge_mp4_tracks supports single-mdat inputs only "
                f"(found {len(boxes)} top-level mdat boxes)"
            )
        return boxes[0]

    def _trak_span(data, handler):
        _mh, moov_s, moov_e = _top(data, b"moov")
        for fourcc, s, e in _iter_boxes(data, moov_s, moov_e):
            if fourcc != b"trak":
                continue
            kids = _children(data, s, e)
            if b"mdia" not in kids:
                continue
            mkids = _children(data, *kids[b"mdia"])
            if b"hdlr" not in mkids:
                continue
            hs, _he = mkids[b"hdlr"]
            if data[hs + 8 : hs + 12] == handler:
                if b"tkhd" not in kids or b"minf" not in mkids:
                    raise ValueError(f"{handler.decode()!r} track is malformed")
                return s - 8, e  # include the trak box header
        raise ValueError(f"no {handler.decode()!r} track to merge")

    v_mdat_h, v_mdat_s, _v_mdat_e = _top(video_mp4, b"mdat")
    a_mdat_h, a_mdat_s, a_mdat_e = _top(audio_mp4, b"mdat")
    _vh, v_moov_s, v_moov_e = _top(video_mp4, b"moov")
    if not (v_mdat_s < v_moov_s and a_mdat_s < _top(audio_mp4, b"moov")[1]):
        raise ValueError(
            "merge_mp4_tracks requires the classic ftyp+mdat+moov layout "
            "(fragmented inputs keep their samples in moofs — concatenate "
            "those instead)"
        )
    vs, ve = _trak_span(video_mp4, b"vide")
    as_, ae = _trak_span(audio_mp4, b"soun")

    head = video_mp4[:v_mdat_h]               # video ftyp (+ any prelude)
    v_mdat = video_mp4[v_mdat_h:_v_mdat_e]    # incl. its (maybe 16-byte) header
    a_mdat = audio_mp4[a_mdat_h:a_mdat_e]
    # the audio payload moves from a_mdat_s to just after its copied
    # header in the merged file; header size is a_mdat_s-a_mdat_h (8
    # normally, 16 for a largesize mdat) — never a hardcoded 8
    delta = (len(head) + len(v_mdat) + (a_mdat_s - a_mdat_h)) - a_mdat_s

    a_trak = bytearray(audio_mp4[as_:ae])
    a_base = as_  # spans below are absolute in audio_mp4; rebase to a_trak
    kids = _children(audio_mp4, as_ + 8, ae)
    # tkhd track_ID := 2 (v0 at +8, v1 at +16 past version/flags)
    ts, _te = kids[b"tkhd"]
    tver, tp = _fullbox_header(audio_mp4, ts)
    struct.pack_into(">I", a_trak, tp + (16 if tver else 8) - a_base, 2)
    # stco entries += delta
    mkids = _children(audio_mp4, *kids[b"mdia"])
    minf = _children(audio_mp4, *mkids[b"minf"])
    if b"stbl" not in minf:
        raise ValueError("audio track lacks an stbl")
    stbl = _children(audio_mp4, *minf[b"stbl"])
    if b"stco" not in stbl and b"co64" not in stbl:
        raise ValueError("audio track lacks chunk-offset tables")
    if b"co64" in stbl:
        s, _e = stbl[b"co64"]
        (nc,) = struct.unpack_from(">I", audio_mp4, s + 4)
        for i in range(nc):
            off = s + 8 + 8 * i - a_base
            (v,) = struct.unpack_from(">Q", a_trak, off)
            struct.pack_into(">Q", a_trak, off, v + delta)
    else:
        s, _e = stbl[b"stco"]
        (nc,) = struct.unpack_from(">I", audio_mp4, s + 4)
        for i in range(nc):
            off = s + 8 + 4 * i - a_base
            (v,) = struct.unpack_from(">I", a_trak, off)
            struct.pack_into(">I", a_trak, off, v + delta)

    mvhd_s, mvhd_e = _children(video_mp4, v_moov_s, v_moov_e)[b"mvhd"]
    mvhd = video_mp4[mvhd_s - 8 : mvhd_e]
    moov = _box(b"moov", mvhd + video_mp4[vs:ve] + bytes(a_trak))
    return head + v_mdat + a_mdat + moov


@corrupt_guard
def probe_mp4(payload: bytes) -> dict:
    """Container metadata without decoding frames: {width, height,
    fps, n_frames, codec, duration_s} — same shape as probe_avi plus
    the media-timescale duration."""
    if len(payload) < 12 or payload[4:8] not in TOPLEVEL_BOXES:
        raise ValueError("not an ISO-BMFF (MP4) payload")
    hdr, stbl = _video_stbl(payload)
    n = _sample_count(payload, stbl)
    fps = 0
    if b"stts" in stbl:
        s, _ = stbl[b"stts"]
        (entries,) = struct.unpack_from(">I", payload, s + 4)
        if entries:
            _, delta = struct.unpack_from(">II", payload, s + 8)
            if delta:
                fps = round(hdr["timescale"] / delta)
    duration = hdr["duration"]
    if n == 0:  # fragmented movie: counts/durations live in the moofs
        trex = _trex_defaults(payload, hdr["track_id"])
        if trex is not None:
            ranges, frag_dur = _fragment_ranges(payload, hdr["track_id"], trex)
            n = len(ranges)
            if not fps and frag_dur:
                fps = round(hdr["timescale"] / frag_dur)
            if not duration and frag_dur:
                duration = n * frag_dur
    # sync-sample (keyframe) count: stss lists them; absent stss means
    # every sample is a random-access point (8.6.2) — sampling plans
    # over IPPP corpora need this to estimate decode cost per frame
    n_sync = n
    if b"stss" in stbl:
        s, e = stbl[b"stss"]
        if s + 8 <= e:
            (n_sync,) = struct.unpack_from(">I", payload, s + 4)
    return {
        "width": hdr["width"],
        "height": hdr["height"],
        "n_frames": n,
        "fps": fps,
        "codec": _stsd_codec(payload, stbl),
        "duration_s": (duration / hdr["timescale"]) if hdr["timescale"] else 0.0,
        "n_sync": n_sync,
    }


# ---------------------------------------------------------------------
# sample-table walk + decode
# ---------------------------------------------------------------------

def _sample_ranges(data: bytes, stbl: dict) -> list[tuple[int, int]]:
    """Expand stsz + stsc + stco/co64 into absolute (offset, size) per
    sample — the part of ISO-BMFF that one-sample-per-chunk test files
    never exercise."""
    s, e = stbl[b"stsz"]
    uniform, n = struct.unpack_from(">II", data, s + 4)
    if uniform:
        # a corrupt count would otherwise size a list of up to 2³² entries
        if uniform * n > len(data):
            raise ValueError("stsz samples overrun the file")
        sizes = [uniform] * n
    else:
        if s + 12 + 4 * n > e:
            raise ValueError("stsz table truncated")
        sizes = list(struct.unpack_from(f">{n}I", data, s + 12))

    if b"stco" in stbl:
        s, e = stbl[b"stco"]
        (nc,) = struct.unpack_from(">I", data, s + 4)
        if s + 8 + 4 * nc > e:
            raise ValueError("stco table truncated")
        chunks = list(struct.unpack_from(f">{nc}I", data, s + 8))
    elif b"co64" in stbl:
        s, e = stbl[b"co64"]
        (nc,) = struct.unpack_from(">I", data, s + 4)
        if s + 8 + 8 * nc > e:
            raise ValueError("co64 table truncated")
        chunks = list(struct.unpack_from(f">{nc}Q", data, s + 8))
    else:
        raise ValueError("stbl missing stco/co64")

    if b"stsc" not in stbl:
        raise ValueError("stbl missing stsc")
    s, e = stbl[b"stsc"]
    (nr,) = struct.unpack_from(">I", data, s + 4)
    runs = [struct.unpack_from(">III", data, s + 8 + 12 * i) for i in range(nr)]
    if not runs or runs[0][0] != 1:
        raise ValueError("stsc must start at chunk 1")

    out: list[tuple[int, int]] = []
    run_i, si = 0, 0
    for ci, coff in enumerate(chunks, start=1):
        while run_i + 1 < len(runs) and runs[run_i + 1][0] <= ci:
            run_i += 1
        spc = runs[run_i][1]
        off = coff
        for _ in range(spc):
            if si >= n:
                break
            if off + sizes[si] > len(data):
                raise ValueError("sample overruns mdat")
            out.append((off, sizes[si]))
            off += sizes[si]
            si += 1
    if si < n:
        raise ValueError(f"chunk tables cover {si} of {n} samples")
    return out


def _trex_defaults(data: bytes, track_id: int) -> dict | None:
    """moov/mvex/trex track defaults, or None if the movie is not
    fragment-capable (no mvex)."""
    top = _children(data, 0, len(data))
    mkids = _children(data, *top[b"moov"])
    if b"mvex" not in mkids:
        return None
    for fourcc, s, _e in _iter_boxes(data, *mkids[b"mvex"]):
        if fourcc == b"trex":
            tid, _sdi, dur, size, _flags = struct.unpack_from(">5I", data, s + 4)
            if tid == track_id:
                return {"duration": dur, "size": size}
    return {}


def _fragment_ranges(
    data: bytes, track_id: int, trex: dict
) -> tuple[list[tuple[int, int]], int]:
    """Walk top-level moof boxes and expand every traf/trun of
    ``track_id`` into absolute (offset, size) sample ranges — the
    fragmented (DASH/CMAF) twin of :func:`_sample_ranges`.  Honors
    tfhd base-data-offset / default-base-is-moof, tfhd/trex default
    sample sizes and per-sample trun sizes, plus the ISO/IEC 14496-12
    §8.8.7/8.8.8 *implicit* bases: a trun without a data-offset
    continues immediately after the previous run's data, and a
    non-first traf without base-data-offset/default-base-is-moof
    bases at the end of the previous traf's data (which is why every
    traf is walked, not only ``track_id``'s — the running end-offset
    spans tracks).  Returns (ranges, first seen sample duration) —
    the duration backs the fps probe, since a fragmented stts is
    empty by construction."""
    out: list[tuple[int, int]] = []
    first_dur = 0
    trex_by_tid: dict[int, dict] = {track_id: trex}
    for fourcc, ms, me in _iter_boxes(data, 0, len(data)):
        if fourcc != b"moof":
            continue
        # the box START anchors default-base-is-moof addressing; the
        # fourcc sits at body−4 for a normal 8-byte header but at
        # body−12 when the box used a 64-bit largesize header — basing
        # on ms−8 unconditionally would shift every sample offset by 8
        # and decode silently WRONG raw frames, not raise
        if data[ms - 4 : ms] == b"moof":  # normal 8-byte header
            moof_start = ms - 8
        else:  # largesize: fourcc precedes the 64-bit size field
            moof_start = ms - 16
        traf_data_end = None  # end of the previous traf's data, any track
        for f2, tstart, tend in _iter_boxes(data, ms, me):
            if f2 != b"traf":
                continue
            kids = _children(data, tstart, tend)
            if b"tfhd" not in kids:
                raise ValueError("traf missing tfhd")
            s, _e = kids[b"tfhd"]
            flags = int.from_bytes(data[s + 1 : s + 4], "big")
            p = s + 4
            (tid,) = struct.unpack_from(">I", data, p)
            p += 4
            base = None
            if flags & 0x01:  # base-data-offset present
                (base,) = struct.unpack_from(">Q", data, p)
                p += 8
            if flags & 0x02:  # sample-description-index
                p += 4
            if tid not in trex_by_tid:
                trex_by_tid[tid] = _trex_defaults(data, tid) or {}
            t_trex = trex_by_tid[tid]
            d_dur = t_trex.get("duration", 0)
            if flags & 0x08:
                (d_dur,) = struct.unpack_from(">I", data, p)
                p += 4
            d_size = t_trex.get("size", 0)
            if flags & 0x10:
                (d_size,) = struct.unpack_from(">I", data, p)
                p += 4
            if base is None:
                if flags & 0x020000 or traf_data_end is None:
                    # default-base-is-moof, or the first traf of the
                    # moof (its implicit base is also the moof start)
                    base = moof_start
                else:
                    # §8.8.7: a later traf without an explicit base
                    # continues after the previous traf's data
                    base = traf_data_end
            if tid == track_id:
                first_dur = first_dur or d_dur
            run_end = None  # end of the previous trun's data in this traf
            for f3, s3, e3 in _iter_boxes(data, tstart, tend):
                if f3 != b"trun":
                    continue
                tflags = int.from_bytes(data[s3 + 1 : s3 + 4], "big")
                p3 = s3 + 4
                (cnt,) = struct.unpack_from(">I", data, p3)
                p3 += 4
                if tflags & 0x01:  # data-offset present (signed)
                    (doff,) = struct.unpack_from(">i", data, p3)
                    p3 += 4
                    off = base + doff
                elif run_end is not None:
                    # §8.8.8: offset-less run continues after the
                    # previous run, NOT back at the base
                    off = run_end
                else:
                    off = base
                if tflags & 0x04:  # first-sample-flags
                    p3 += 4
                for _ in range(cnt):
                    if tflags & 0x100:  # per-sample duration
                        (dur,) = struct.unpack_from(">I", data, p3)
                        p3 += 4
                        if tid == track_id:
                            first_dur = first_dur or dur
                    if tflags & 0x200:  # per-sample size
                        (sz,) = struct.unpack_from(">I", data, p3)
                        p3 += 4
                    else:
                        sz = d_size
                        if not sz:
                            raise ValueError(
                                "trun sample without size (no trun/tfhd/trex default)"
                            )
                    if tflags & 0x400:
                        p3 += 4
                    if tflags & 0x800:
                        p3 += 4
                    if p3 > e3:
                        raise ValueError("trun table truncated")
                    if off + sz > len(data):
                        raise ValueError("fragment sample overruns file")
                    if tid == track_id:
                        out.append((off, sz))
                    off += sz
                run_end = off
            if run_end is not None:
                traf_data_end = run_end
    return out, first_dur


def _all_sample_ranges(
    data: bytes, hdr: dict, stbl: dict
) -> list[tuple[int, int]]:
    """Per-sample byte ranges for BOTH layouts: classic stbl tables
    when stsz has samples, moof/traf/trun fragments otherwise."""
    if b"stsz" not in stbl:
        raise ValueError("stbl missing stsz")
    s, _e = stbl[b"stsz"]
    _, n = struct.unpack_from(">II", data, s + 4)
    if n:
        return _sample_ranges(data, stbl)
    trex = _trex_defaults(data, hdr["track_id"])
    ranges, _dur = _fragment_ranges(data, hdr["track_id"], trex or {})
    if not ranges:
        raise ValueError("no samples in stbl tables or movie fragments")
    return ranges


@corrupt_guard
def decode_mp4_frames(
    payload: bytes, every_n: int = 1
) -> Iterator[tuple[int, np.ndarray]]:
    """Yield (frame_idx, H×W×3 uint8 RGB) for every ``every_n``-th
    sample.  Photo-JPEG ('jpeg'), uncompressed RGB24 ('raw '), and
    baseline H.264 ('avc1' — all-intra AND IDR+P inter tracks, via
    operators/h264.py) decode; other essence (hev1/vp09/av01/mp4v,
    and avc1 samples that are B slices or CABAC/deblocking-enabled)
    raises NotImplementedError."""
    if len(payload) < 12 or payload[4:8] not in TOPLEVEL_BOXES:
        raise ValueError("not an ISO-BMFF (MP4) payload")
    hdr, stbl = _video_stbl(payload)
    codec = _stsd_codec(payload, stbl)
    if codec not in _INTRA_CODECS:
        raise NotImplementedError(
            f"inter-frame MP4 essence {codec!r} needs ffmpeg"
        )
    if codec in ("avc1", "avc3"):
        # stateful track decode: P samples reference earlier samples,
        # so when any sample carries a non-IDR NAL every sample must
        # decode in order (the all-IDR track keeps the sampling skip);
        # avc3's in-band SPS/PPS are picked up during the walk
        from marketstore_spark.operators.h264 import (
            AvccDecoder,
            sample_has_inter,
        )

        dec = AvccDecoder(_stsd_avcc(payload, stbl))
        ranges = list(_all_sample_ranges(payload, hdr, stbl))
        has_inter = any(
            sample_has_inter(bytes(payload[o : o + s]), dec.length_size)
            for o, s in ranges
        )
        for idx, (off, size) in enumerate(ranges):
            if idx % every_n and not has_inter:
                continue
            frame = dec.decode_sample(bytes(payload[off : off + size]))
            if idx % every_n == 0:
                yield idx, frame
        return
    if codec == "jpeg":
        from marketstore_spark.operators.jpeg import decode_jpeg
    w, h = hdr["width"], hdr["height"]
    for idx, (off, size) in enumerate(_all_sample_ranges(payload, hdr, stbl)):
        if idx % every_n:
            continue
        sample = bytes(payload[off : off + size])
        if codec == "jpeg":
            yield idx, decode_jpeg(sample)
        else:
            if size != w * h * 3:
                raise ValueError("raw sample size does not match w*h*3")
            yield idx, np.frombuffer(sample, np.uint8).reshape(h, w, 3).copy()


# ---------------------------------------------------------------------
# audio tracks (QuickTime/.m4a uncompressed + G.711 essence)
# ---------------------------------------------------------------------

# fourcc → bytes per sample point (None: derived from the entry's
# samplesize field, the 'twos' convention)
_AUDIO_WIDTHS = {
    b"twos": None, b"sowt": 2, b"raw ": 1, b"in24": 3, b"in32": 4,
    b"ulaw": 1, b"alaw": 1, b"fl32": 4, b"fl64": 8,
    b"ima4": None,  # QuickTime IMA ADPCM: 34-byte/64-sample packets
}


def encode_mp4_audio(
    samples: np.ndarray,
    rate: int = 16000,
    codec: str = "twos",
    frames_per_chunk: int = 4096,
) -> bytes:
    """Audio samples → ISO-BMFF bytes with a QuickTime 'soun' track.

    ``samples`` is int16, shaped (n,) mono or (n, nch) interleaved;
    G.711 ('ulaw'/'alaw') additionally accepts the uint8 code stream
    verbatim, and int16 input is companded through the closed-form
    encoders (multimodal._int16_to_ulaw/_int16_to_alaw, audioop-pinned).
    Uniform stsz (bytes per PCM frame) + multi-frame chunks — the
    layout QuickTime itself writes for uncompressed audio."""
    lpcm_float = None
    if codec in ("lpcm16", "lpcmf32"):
        # modern QuickTime v2 'lpcm' descriptor (little-endian packed)
        codec_b, lpcm_float = b"lpcm", codec == "lpcmf32"
    else:
        codec_b = codec.encode("ascii").ljust(4)[:4]
        if codec_b not in _AUDIO_WIDTHS:
            raise ValueError(f"unsupported audio codec {codec!r}")
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, nch = arr.shape
    if codec_b in (b"ulaw", b"alaw"):
        if arr.dtype != np.uint8:
            from marketstore_spark.operators.multimodal import (
                _int16_to_alaw,
                _int16_to_ulaw,
            )

            conv = _int16_to_ulaw if codec_b == b"ulaw" else _int16_to_alaw
            arr = conv(arr.astype(np.int16))
        body, width, bits = arr.reshape(-1).tobytes(), 1, 16
    elif codec_b == b"twos":
        body, width, bits = arr.astype(">i2").tobytes(), 2, 16
    elif codec_b == b"sowt":
        body, width, bits = arr.astype("<i2").tobytes(), 2, 16
    elif codec_b == b"raw ":  # 8-bit unsigned (offset binary)
        body = ((arr.astype(np.int32) >> 8) + 128).astype(np.uint8).tobytes()
        width, bits = 1, 8
    elif codec_b == b"in24":  # BE 24-bit: high byte, mid byte, 0
        x = arr.astype(np.int32)
        b3 = np.zeros((n, nch, 3), np.uint8)
        b3[..., 0] = (x >> 8) & 0xFF
        b3[..., 1] = x & 0xFF
        body, width, bits = b3.tobytes(), 3, 24
    elif codec_b == b"in32":
        body = (arr.astype(np.int32) << 16).astype(">i4").tobytes()
        width, bits = 4, 32
    elif codec_b == b"fl32":
        body = (arr.astype(np.float64) / 32767.0).astype(">f4").tobytes()
        width, bits = 4, 32
    elif codec_b == b"lpcm":
        if lpcm_float:
            body = (arr.astype(np.float64) / 32767.0).astype("<f4").tobytes()
            width, bits = 4, 32
        else:
            body = arr.astype("<i2").tobytes()
            width, bits = 2, 16
    elif codec_b == b"ima4":
        from marketstore_spark.operators.adpcm import (
            IMA_QT_PACKET,
            IMA_QT_SAMPLES,
            encode_ima_qt,
        )

        body, _npackets = encode_ima_qt(arr.astype(np.int16))
        width, bits = None, 16
    else:  # fl64
        body = (arr.astype(np.float64) / 32767.0).astype(">f8").tobytes()
        width, bits = 8, 64

    ftyp = _box(b"ftyp", b"qt  " + struct.pack(">I", 0x200) + b"qt  ")
    if codec_b == b"ima4":
        # one MP4 sample = one 34-byte packet per channel = 64 PCM
        # frames; durations below are in PCM frames (timescale = rate)
        unit_bytes = IMA_QT_PACKET * nch
        unit_dur = IMA_QT_SAMPLES
        n = -(-n // IMA_QT_SAMPLES)  # packets per channel (tail padded)
    else:
        unit_bytes = width * nch
        unit_dur = 1
    frame_bytes = unit_bytes
    chunk_offsets = []
    base = len(ftyp) + 8
    for i in range(0, n, frames_per_chunk):
        chunk_offsets.append(base + i * frame_bytes)
    mdat = _box(b"mdat", body)

    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n, unit_dur))
    runs = [(1, min(frames_per_chunk, n), 1)]
    if n > frames_per_chunk and n % frames_per_chunk:
        runs.append((n // frames_per_chunk + 1, n % frames_per_chunk, 1))
    stsc = _full(
        b"stsc", 0, 0,
        struct.pack(">I", len(runs))
        + b"".join(struct.pack(">III", *r) for r in runs),
    )
    stsz = _full(b"stsz", 0, 0, struct.pack(">II", frame_bytes, n))
    stco = _full(
        b"stco", 0, 0,
        struct.pack(">I", len(chunk_offsets))
        + struct.pack(f">{len(chunk_offsets)}I", *chunk_offsets),
    )
    if codec_b == b"lpcm":
        # v2 sound descriptor (QTFF): constants, float64 rate, 32-bit
        # channel/bits fields, format flags (float|signed-int, packed;
        # little-endian = no BigEndian flag)
        flags = (0x1 if lpcm_float else 0x4) | 0x8
        entry = _box(
            b"lpcm",
            b"\x00" * 6 + struct.pack(">H", 1)            # data_ref_index
            + struct.pack(">HH4x", 2, 0)                    # version 2
            + struct.pack(">HHhh", 3, 16, -2, -2)           # spec constants
            + struct.pack(">II", 65536, 72)                 # const, sizeOfStructOnly
            + struct.pack(">d", float(rate))
            + struct.pack(">II", nch, 0x7F000000)
            + struct.pack(">III", bits, flags, width * nch)
            + struct.pack(">I", 1),                         # LPCM frames/packet
        )
    else:
        entry = _box(
            codec_b,
            b"\x00" * 6 + struct.pack(">H", 1)             # data_ref_index
            + struct.pack(">HH4x", 0, 0)                    # version/revision/vendor
            + struct.pack(">HHHH", nch, bits, 0, 0)         # chans/size/cid/packet
            + struct.pack(">I", rate << 16),                # 16.16 rate
        )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)

    matrix = struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    dur = n * unit_dur  # PCM frames (ima4 units span 64 each)
    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, rate, dur)
        + struct.pack(">iHH8x", 0x10000, 0x100, 0) + matrix
        + b"\x00" * 24 + struct.pack(">I", 2),
    )
    tkhd = _full(
        b"tkhd", 0, 7,
        struct.pack(">III4xI", 0, 0, 1, dur)
        + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0x100, 0) + matrix
        + struct.pack(">II", 0, 0),
    )
    mdhd = _full(b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, rate, dur, 0x55C4, 0))
    hdlr = _full(b"hdlr", 0, 0, b"\x00" * 4 + b"soun" + b"\x00" * 12 + b"Sound\x00")
    smhd = _full(b"smhd", 0, 0, struct.pack(">HH", 0, 0))
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b""))
    minf = _box(b"minf", smhd + _box(b"dinf", dref) + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


@corrupt_guard
def decode_mp4_audio(payload: bytes) -> tuple[int, np.ndarray]:
    """ISO-BMFF audio track → (sample_rate, int16 samples of the first
    channel) with the SAME int16 normalization as the WAV/AU/AIFF
    decoders (multimodal.py), so one clip in any container yields
    identical samples.  Uncompressed PCM ('twos'/'sowt'/'raw '/
    'in24'/'in32'), IEEE float ('fl32'/'fl64'), G.711 ('ulaw'/'alaw'),
    and QuickTime IMA ADPCM ('ima4' — genuinely COMPRESSED audio,
    34-byte/64-sample packets via operators/adpcm.py) decode; 'mp4a'
    AAC and 'lpcm' v2 descriptors raise NotImplementedError."""
    from marketstore_spark.operators.multimodal import (
        _alaw_to_int16,
        _float_to_int16,
        _pcm_be_to_int16,
        _ulaw_to_int16,
    )

    if len(payload) < 12 or payload[4:8] not in TOPLEVEL_BOXES:
        raise ValueError("not an ISO-BMFF (MP4) payload")
    hdr, stbl = _track_stbl(payload, b"soun")
    if b"stsd" not in stbl:
        raise ValueError("stbl missing stsd")
    s, e = stbl[b"stsd"]
    (count,) = struct.unpack_from(">I", payload, s + 4)
    if count < 1 or s + 8 + 36 > e:
        raise ValueError("empty/truncated audio stsd")
    fourcc = payload[s + 12 : s + 16]
    # AudioSampleEntry version lives at s+24 (after the entry-box
    # header + 6 reserved + data_ref_index).  v0/v1 share the field
    # layout below; a v2 descriptor (modern QuickTime 'lpcm') moves
    # EVERYTHING — reading the v0 offsets against a v2 entry would
    # return the always3/always16 constants as nch/bits and silently
    # de-interleave the wrong channel.
    (entry_version,) = struct.unpack_from(">H", payload, s + 24)
    if entry_version == 2:
        if fourcc != b"lpcm":
            raise NotImplementedError(
                f"v2 sound descriptor with compressed essence "
                f"{fourcc.decode('ascii', 'replace').strip()!r}"
            )
        (rate_f,) = struct.unpack_from(">d", payload, s + 48)
        (nch,) = struct.unpack_from(">I", payload, s + 56)
        (bits,) = struct.unpack_from(">I", payload, s + 64)
        (fmt_flags,) = struct.unpack_from(">I", payload, s + 68)
        nch = max(int(nch), 1)
        rate = int(rate_f) or hdr["timescale"]
        if fmt_flags & 0x20:  # kAudioFormatFlagIsNonInterleaved
            raise NotImplementedError("planar (non-interleaved) lpcm")
        is_float = bool(fmt_flags & 0x1)
        endian = ">" if fmt_flags & 0x2 else "<"
        raw = b"".join(
            payload[off : off + size]
            for off, size in _all_sample_ranges(payload, hdr, stbl)
        )
        if is_float and bits == 32:
            s16 = _float_to_int16(np.frombuffer(raw, f"{endian}f4")[::nch])
        elif is_float and bits == 64:
            s16 = _float_to_int16(np.frombuffer(raw, f"{endian}f8")[::nch])
        elif not is_float and bits == 16:
            s16 = (
                np.frombuffer(raw, f"{endian}i2")[::nch].astype(np.int16).copy()
            )
        elif not is_float and bits == 32:
            s16 = (
                (np.frombuffer(raw, f"{endian}i4")[::nch] >> 16)
                .astype(np.int16)
                .copy()
            )
        elif not is_float and bits == 24 and endian == ">":
            s16 = _pcm_be_to_int16(raw, 3, nch)
        else:
            raise NotImplementedError(
                f"lpcm layout bits={bits} float={is_float} endian={endian!r}"
            )
        return int(rate), s16
    if fourcc not in _AUDIO_WIDTHS:
        raise NotImplementedError(
            f"compressed MP4 audio essence {fourcc.decode('ascii', 'replace').strip()!r}"
            " (AAC/…) needs a codec library"
        )
    # AudioSampleEntry v0/v1 after the 8-byte entry-box header (s+8):
    # 6 reserved + dref(2) → s+24, ver/rev/vendor(8) → s+32,
    # channelcount(2) samplesize(2) → s+36, cid(2) packet(2) → s+40,
    # samplerate(4, 16.16) → s+44
    nch, bits = struct.unpack_from(">HH", payload, s + 32)
    (rate_fx,) = struct.unpack_from(">I", payload, s + 40)
    rate = (rate_fx >> 16) or hdr["timescale"]
    nch = max(nch, 1)

    raw = b"".join(
        payload[off : off + size]
        for off, size in _all_sample_ranges(payload, hdr, stbl)
    )
    if fourcc == b"ima4":
        from marketstore_spark.operators.adpcm import decode_ima_qt

        s16 = decode_ima_qt(raw, nch)[:, 0].copy()
    elif fourcc == b"twos":
        s16 = _pcm_be_to_int16(raw, 2 if bits == 16 else 1, nch)
    elif fourcc == b"sowt":
        s16 = np.frombuffer(raw, "<i2")[::nch].astype(np.int16).copy()
    elif fourcc == b"raw ":  # 8-bit unsigned, offset binary
        u = np.frombuffer(raw, np.uint8).astype(np.int16)
        s16 = ((u - 128) * 256)[::nch].copy()
    elif fourcc == b"in24":
        s16 = _pcm_be_to_int16(raw, 3, nch)
    elif fourcc == b"in32":
        s16 = _pcm_be_to_int16(raw, 4, nch)
    elif fourcc == b"ulaw":
        s16 = _ulaw_to_int16(np.frombuffer(raw, np.uint8))[::nch].copy()
    elif fourcc == b"alaw":
        s16 = _alaw_to_int16(np.frombuffer(raw, np.uint8))[::nch].copy()
    elif fourcc == b"fl32":
        s16 = _float_to_int16(np.frombuffer(raw, ">f4")[::nch])
    else:  # fl64
        s16 = _float_to_int16(np.frombuffer(raw, ">f8")[::nch])
    return int(rate), s16
