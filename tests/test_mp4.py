"""MP4 / ISO-BMFF container tests (operators/mp4.py) and the
container-sniffing video dispatch."""

import struct

import numpy as np
import pytest

from marketstore_spark.operators.mp4 import (
    decode_mp4_frames,
    encode_mp4,
    probe_mp4,
)
from marketstore_spark.operators.video import decode_video_frames, probe_video


def _frames(n=7, h=10, w=14, seed=3):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)


def _smooth_frames(n=6, h=16, w=24):
    yy, xx = np.mgrid[0:h, 0:w]
    out = np.zeros((n, h, w, 3), np.uint8)
    for i in range(n):
        out[i, ..., 0] = ((xx * 255) // max(w - 1, 1) + i * 7) % 256
        out[i, ..., 1] = ((yy * 255) // max(h - 1, 1)) % 256
        out[i, ..., 2] = ((xx + yy + i * 11) * 3) % 256
    return out


def test_raw_roundtrip_exact_multi_sample_chunks():
    """7 samples at 3 per chunk → chunks of (3,3,1), i.e. a 2-run stsc
    — the layout naive parsers break on."""
    frames = _frames(n=7)
    mp4 = encode_mp4(frames, fps=30, codec="raw", samples_per_chunk=3)
    info = probe_mp4(mp4)
    assert info["width"] == 14 and info["height"] == 10
    assert info["n_frames"] == 7 and info["fps"] == 30 and info["codec"] == "raw"
    got = dict(decode_mp4_frames(mp4, every_n=1))
    assert sorted(got) == list(range(7))
    for i in range(7):
        assert (got[i] == frames[i]).all()  # uncompressed: bit-exact


def test_raw_single_sample_per_chunk_and_stepping():
    frames = _frames(n=9, h=6, w=8)
    mp4 = encode_mp4(frames, codec="raw", samples_per_chunk=1)
    got = dict(decode_mp4_frames(mp4, every_n=4))
    assert sorted(got) == [0, 4, 8]
    for i in got:
        assert (got[i] == frames[i]).all()


def test_photo_jpeg_roundtrip_close_and_smaller():
    frames = _smooth_frames()
    mp4 = encode_mp4(frames, fps=15, codec="jpeg", quality=95)
    raw = encode_mp4(frames, fps=15, codec="raw")
    info = probe_mp4(mp4)
    assert info["codec"] == "jpeg" and info["n_frames"] == 6
    assert info["duration_s"] == pytest.approx(6 / 15)
    assert len(mp4) < len(raw)  # actually compressed
    got = dict(decode_mp4_frames(mp4, every_n=1))
    assert sorted(got) == list(range(6))
    for i in range(6):
        err = np.abs(got[i].astype(int) - frames[i].astype(int))
        assert err.mean() < 8 and got[i].shape == frames[i].shape


def test_co64_and_version1_boxes():
    """64-bit chunk offsets and version-1 mvhd/tkhd/mdhd parse to the
    same answers as the 32-bit forms."""
    frames = _frames(n=5, h=8, w=8)
    for kw in ({"use_co64": True}, {"version1": True},
               {"use_co64": True, "version1": True}):
        mp4 = encode_mp4(frames, fps=12, codec="raw", **kw)
        info = probe_mp4(mp4)
        assert (info["width"], info["height"], info["n_frames"], info["fps"]) == (
            8, 8, 5, 12,
        )
        got = dict(decode_mp4_frames(mp4))
        assert all((got[i] == frames[i]).all() for i in range(5))


def test_interframe_codec_probes_but_decode_fences():
    """hev1 metadata probes fine (that's what a corpus pipeline needs
    for sampling plans); only decode raises.  avc1 now has a real
    intra decoder (operators/h264.py), so the fence moved: a sample
    entry claiming avc1 WITHOUT its mandatory avcC box is corrupt
    (ValueError), and P/B essence raises inside decode (test_h264)."""
    mp4 = encode_mp4(_frames(n=4, h=8, w=8), codec="jpeg")
    hev1 = mp4.replace(b"jpeg", b"hev1", 1)  # stsd entry fourcc only
    info = probe_mp4(hev1)
    assert info["codec"] == "hev1" and info["n_frames"] == 4
    with pytest.raises(NotImplementedError):
        list(decode_mp4_frames(hev1))
    avc1 = mp4.replace(b"jpeg", b"avc1", 1)
    assert probe_mp4(avc1)["codec"] == "avc1"
    with pytest.raises(ValueError):
        list(decode_mp4_frames(avc1))


def test_corrupt_and_foreign_payloads_raise_valueerror():
    with pytest.raises(ValueError):
        probe_mp4(b"notaniso-bmff-stream")
    mp4 = encode_mp4(_frames(n=3, h=6, w=6), codec="raw")
    with pytest.raises(ValueError):
        probe_mp4(mp4[: len(mp4) // 2])  # moov truncated away/overrun
    # sample table claiming data beyond mdat
    bad = bytearray(mp4)
    pos = bad.find(b"stco")
    (nc,) = struct.unpack_from(">I", bad, pos + 8)
    struct.pack_into(">I", bad, pos + 12, len(bad) + 1000)
    with pytest.raises(ValueError):
        list(decode_mp4_frames(bytes(bad)))
    # a uniform sample size with a 2^32 - 1 count is refused before the
    # sample table is expanded, not allocated
    bad = bytearray(mp4)
    struct.pack_into(">II", bad, bad.find(b"stsz") + 8, 1, 0xFFFFFFFF)
    with pytest.raises(ValueError, match="stsz"):
        list(decode_mp4_frames(bytes(bad)))
    # audio-only container: hdlr vide → soun is the honest NIE fence
    soun = mp4.replace(b"vide", b"soun", 1)
    with pytest.raises(NotImplementedError):
        probe_mp4(soun)


def test_container_sniffing_dispatch():
    from marketstore_spark.operators.video import encode_avi

    frames = _frames(n=4, h=6, w=8)
    avi = encode_avi(frames, fps=10)
    mp4 = encode_mp4(frames, fps=10, codec="raw")
    assert probe_video(avi)["codec"] == "DIB"
    assert probe_video(mp4)["codec"] == "raw"
    for blob in (avi, mp4):
        got = dict(decode_video_frames(blob, every_n=2))
        assert sorted(got) == [0, 2]
        assert all((got[i] == frames[i]).all() for i in got)
    with pytest.raises(ValueError):
        probe_video(b"\x89PNG\r\n\x1a\nnot-a-video")


def test_fragmented_roundtrip_exact():
    """DASH/CMAF layout: empty stbl + mvex, samples addressed through
    moof/traf/trun with default-base-is-moof — the file shape streaming
    pipelines emit, unreadable by stbl-only parsers."""
    frames = _frames(n=7)
    fmp4 = encode_mp4(frames, fps=30, codec="raw", samples_per_chunk=3,
                      fragmented=True)
    plain = encode_mp4(frames, fps=30, codec="raw", samples_per_chunk=3)
    assert b"moof" in fmp4 and b"moof" not in plain
    info = probe_mp4(fmp4)
    assert (info["width"], info["height"], info["n_frames"], info["fps"]) == (
        14, 10, 7, 30,
    )
    assert info["duration_s"] == pytest.approx(7 / 30)
    got = dict(decode_mp4_frames(fmp4, every_n=1))
    assert sorted(got) == list(range(7))
    for i in range(7):
        assert (got[i] == frames[i]).all()


def test_fragmented_jpeg_and_stepping():
    frames = _smooth_frames(n=9)
    fmp4 = encode_mp4(frames, fps=12, codec="jpeg", quality=95,
                      samples_per_chunk=4, fragmented=True)
    assert probe_mp4(fmp4)["n_frames"] == 9
    got = dict(decode_mp4_frames(fmp4, every_n=4))
    assert sorted(got) == [0, 4, 8]
    for i in got:
        err = np.abs(got[i].astype(int) - frames[i].astype(int))
        assert err.mean() < 8


def test_largesize_moof_keeps_base_offset():
    """default-base-is-moof anchors at the box START; a moof rewritten
    with a 64-bit largesize header (16-byte header instead of 8) must
    still decode bit-exact — basing at body−8 unconditionally would
    shift every sample by 8 bytes and return silently WRONG raw
    pixels, not an error."""
    frames = _frames(n=4, h=6, w=6)
    blob = encode_mp4(frames, codec="raw", samples_per_chunk=2, fragmented=True)
    i = blob.find(b"moof") - 4
    (sz,) = struct.unpack_from(">I", blob, i)
    body = bytearray(struct.pack(">I4sQ", 1, b"moof", sz + 8) + blob[i + 8 : i + sz])
    j = bytes(body).find(b"trun")
    (doff,) = struct.unpack_from(">i", body, j + 12)
    struct.pack_into(">i", body, j + 12, doff + 8)  # mdat moved 8 further
    patched = blob[:i] + bytes(body) + blob[i + sz :]
    got = dict(decode_mp4_frames(patched))
    assert sorted(got) == [0, 1, 2, 3]
    assert all((got[k] == frames[k]).all() for k in got)


def test_dash_init_plus_segment_concatenation():
    """DASH delivery ships an init segment (ftyp+moov) and independent
    media segments (moof+mdat); a player concatenates init + any
    fetched segment.  default-base-is-moof addressing makes each
    segment position-independent, so decode of init+segment yields
    exactly that fragment's frames — the read path a corpus of
    crawled DASH segments needs."""
    frames = _frames(n=6, h=6, w=8)
    blob = encode_mp4(frames, codec="raw", samples_per_chunk=2, fragmented=True)
    first = blob.find(b"moof") - 4
    init, segs, pos = blob[:first], [], first
    while pos < len(blob):
        (moof_len,) = struct.unpack_from(">I", blob, pos)
        (mdat_len,) = struct.unpack_from(">I", blob, pos + moof_len)
        segs.append(blob[pos : pos + moof_len + mdat_len])
        pos += moof_len + mdat_len
    assert len(segs) == 3
    got = dict(decode_mp4_frames(init + segs[1]))
    assert sorted(got) == [0, 1]
    assert (got[0] == frames[2]).all() and (got[1] == frames[3]).all()
    # two segments out of order still decode (per-segment independence)
    got = dict(decode_mp4_frames(init + segs[2] + segs[0]))
    assert sorted(got) == [0, 1, 2, 3]
    assert (got[0] == frames[4]).all() and (got[2] == frames[0]).all()


def _fmp4_default_size_variant(frames):
    """Hand-build a fragmented MP4 whose truns carry NO per-sample
    sizes: tfhd supplies default-sample-size (flags 0x10), trun only
    the data offset — exercises the d_size fallback path."""
    from marketstore_spark.operators.mp4 import _box, _full

    n, h, w, _ = frames.shape
    size = w * h * 3
    base = encode_mp4(frames[:1], fps=25, codec="raw", fragmented=True)
    # keep ftyp+moov from the real encoder (1-frame moof discarded)
    moov_end = base.find(b"moof") - 4
    head = base[:moov_end]
    out = bytearray(head)
    for gi in range(0, n, 2):
        group = frames[gi : gi + 2]
        mfhd = _full(b"mfhd", 0, 0, struct.pack(">I", gi // 2 + 1))
        tfhd = _full(
            b"tfhd", 0, 0x020018, struct.pack(">III", 1, 1, size)
        )  # default-base-is-moof + default dur + default SIZE
        trun = _full(b"trun", 0, 0x000001, struct.pack(">Ii", len(group), 0))
        traf = _box(b"traf", tfhd + trun)
        moof = _box(b"moof", mfhd + traf)
        trun = _full(
            b"trun", 0, 0x000001,
            struct.pack(">Ii", len(group), len(moof) + 8),
        )
        moof = _box(b"moof", mfhd + _box(b"traf", tfhd + trun))
        out += moof + _box(b"mdat", b"".join(f.tobytes() for f in group))
    return bytes(out)


def test_fragmented_default_sample_size_fallback():
    frames = _frames(n=6, h=4, w=4, seed=8)
    fmp4 = _fmp4_default_size_variant(frames)
    got = dict(decode_mp4_frames(fmp4))
    # the 1-frame moov head is followed by 3 hand-built moofs of 2
    assert sorted(got) == list(range(6))
    for i in range(6):
        assert (got[i] == frames[i]).all()


def test_two_track_movie_merge():
    """Real crawled .mp4s carry video AND audio in one moov; the
    per-handler track walk must select the right trak for each path.
    merge_mp4_tracks remuxes the single-track encoder outputs into a
    two-track movie (audio stco rebased, track re-id'd): the video
    probe, frame decode, audio decode, and the Spark-facing sniffing
    dispatchers must all keep working unchanged."""
    import numpy as np

    from marketstore_spark.operators.mp4 import (
        decode_mp4_audio,
        encode_mp4_audio,
        merge_mp4_tracks,
    )
    from marketstore_spark.operators.multimodal import decode_audio_any
    from marketstore_spark.operators.video import probe_video

    frames = _frames(n=5, h=8, w=10)
    clip = np.random.default_rng(6).integers(-2000, 2000, 700).astype(np.int16)
    movie = merge_mp4_tracks(
        encode_mp4(frames, fps=20, codec="raw", samples_per_chunk=2),
        encode_mp4_audio(clip, rate=16000, codec="in24"),
    )
    info = probe_mp4(movie)
    assert (info["width"], info["height"], info["n_frames"], info["fps"]) == (
        10, 8, 5, 20,
    )
    assert info == probe_video(movie)  # sniffing dispatch unchanged
    got = dict(decode_mp4_frames(movie))
    assert all((got[i] == frames[i]).all() for i in range(5))
    rate, s = decode_mp4_audio(movie)
    assert rate == 16000 and np.array_equal(s, clip)  # in24 is exact
    rate2, s2 = decode_audio_any(movie)
    assert rate2 == rate and np.array_equal(s2, s)
    # fragmented inputs are fenced, not silently mis-merged
    frag = encode_mp4(frames, codec="raw", fragmented=True)
    with pytest.raises(ValueError):
        merge_mp4_tracks(frag, encode_mp4_audio(clip, 16000))


def _insert_second_mdat(blob: bytes) -> bytes:
    """Append an extra (empty) top-level mdat right after the real one
    — the multi-mdat layout some muxers emit."""
    from marketstore_spark.operators.mp4 import _box, _children

    mdat_s, mdat_e = _children(blob, 0, len(blob))[b"mdat"]
    return blob[:mdat_e] + _box(b"mdat", b"\x00" * 4) + blob[mdat_e:]


def _to_largesize_mdat(blob: bytes) -> bytes:
    """Rewrite the single top-level mdat to a 64-bit largesize header
    (size=1 + fourcc + 8-byte size), patching every stco entry +8 so
    the result is a VALID file whose samples still decode — the wild
    shape huge recordings use even when small."""
    from marketstore_spark.operators.mp4 import _children

    mdat_s, mdat_e = _children(blob, 0, len(blob))[b"mdat"]
    hdr_start = mdat_s - 8
    payload = blob[mdat_s:mdat_e]
    big = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(payload))
    out = bytearray(blob[:hdr_start] + big + payload + blob[mdat_e:])
    # every absolute chunk offset moved +8 (payload now starts at
    # hdr_start+16, not +8)
    pos = bytes(out).find(b"stco")
    while pos != -1:
        (nc,) = struct.unpack_from(">I", out, pos + 8)
        for i in range(nc):
            off = pos + 12 + 4 * i
            (v,) = struct.unpack_from(">I", out, off)
            struct.pack_into(">I", out, off, v + 8)
        pos = bytes(out).find(b"stco", pos + 4)
    return bytes(out)


def test_merge_rejects_multi_mdat():
    """A second top-level mdat cannot be rebased by the single-delta
    stco rewrite — accepting it would point the copied chunk offsets
    into foreign bytes (silent wrong samples), so merge must refuse
    loudly on EITHER input."""
    from marketstore_spark.operators.mp4 import encode_mp4_audio, merge_mp4_tracks

    frames = _frames(n=3, h=6, w=6)
    clip = np.arange(-300, 300, 2, dtype=np.int16)
    video = encode_mp4(frames, codec="raw")
    audio = encode_mp4_audio(clip, rate=8000)
    with pytest.raises(ValueError, match="mdat"):
        merge_mp4_tracks(_insert_second_mdat(video), audio)
    with pytest.raises(ValueError, match="mdat"):
        merge_mp4_tracks(video, _insert_second_mdat(audio))


def test_merge_largesize_mdat_inputs():
    """merge_mp4_tracks computes the mdat header span instead of
    assuming 8 bytes: inputs whose mdat carries a 64-bit largesize
    header merge into a movie whose video frames AND audio samples
    still decode exactly."""
    from marketstore_spark.operators.mp4 import (
        decode_mp4_audio,
        encode_mp4_audio,
        merge_mp4_tracks,
    )

    frames = _frames(n=4, h=6, w=8, seed=11)
    clip = np.random.default_rng(12).integers(-2000, 2000, 500).astype(np.int16)
    video = _to_largesize_mdat(encode_mp4(frames, codec="raw", samples_per_chunk=2))
    audio = _to_largesize_mdat(encode_mp4_audio(clip, rate=8000))
    # the rewritten inputs are themselves valid
    got = dict(decode_mp4_frames(video))
    assert all((got[i] == frames[i]).all() for i in range(4))
    movie = merge_mp4_tracks(video, audio)
    got = dict(decode_mp4_frames(movie))
    assert all((got[i] == frames[i]).all() for i in range(4))
    rate, s = decode_mp4_audio(movie)
    assert rate == 8000 and np.array_equal(s, clip)


def _fmp4_implicit_offsets(frames):
    """Hand-build a fragmented MP4 exercising the ISO/IEC 14496-12
    §8.8.7/8.8.8 IMPLICIT bases: one moof whose traf carries TWO truns
    — the first with a data-offset, the second with NONE (spec: its
    run continues immediately after the previous run's data, not back
    at the moof) — then a second moof with TWO trafs of the same
    track where traf2 has neither base-data-offset nor
    default-base-is-moof (spec: bases at the end of traf1's data)."""
    from marketstore_spark.operators.mp4 import _box, _full

    n, h, w, _ = frames.shape
    size = w * h * 3
    base = encode_mp4(frames[:1], fps=25, codec="raw", fragmented=True)
    moov_end = base.find(b"moof") - 4
    out = bytearray(base[:moov_end])

    # moof 1: frames 0-3, one traf, trun1 (offset) + trun2 (implicit)
    mfhd = _full(b"mfhd", 0, 0, struct.pack(">I", 1))
    tfhd = _full(b"tfhd", 0, 0x020018, struct.pack(">III", 1, 1, size))
    trun2 = _full(b"trun", 0, 0x000000, struct.pack(">I", 2))  # no offset
    for _pass in range(2):  # second pass knows the final moof length
        trun1 = _full(
            b"trun", 0, 0x000001,
            struct.pack(">Ii", 2, len(out_moof) + 8 if _pass else 0),
        )
        out_moof = _box(b"moof", mfhd + _box(b"traf", tfhd + trun1 + trun2))
    out += out_moof + _box(b"mdat", b"".join(f.tobytes() for f in frames[:4]))

    # moof 2: frames 4-7, traf1 (default-base-is-moof + offset) then
    # traf2 with NO base flags and an offset-less trun
    mfhd = _full(b"mfhd", 0, 0, struct.pack(">I", 2))
    tfhd2 = _full(b"tfhd", 0, 0x000018, struct.pack(">III", 1, 1, size))
    traf2 = _box(b"traf", tfhd2 + _full(b"trun", 0, 0, struct.pack(">I", 2)))
    for _pass in range(2):
        trun1 = _full(
            b"trun", 0, 0x000001,
            struct.pack(">Ii", 2, len(out_moof) + 8 if _pass else 0),
        )
        out_moof = _box(b"moof", mfhd + _box(b"traf", tfhd + trun1) + traf2)
    out += out_moof + _box(b"mdat", b"".join(f.tobytes() for f in frames[4:8]))
    return bytes(out)


def test_fragment_implicit_trun_and_traf_bases():
    """Spec-valid wild fragmented files with offset-less truns and
    non-first trafs decode the RIGHT byte ranges (ISO 8.8.7/8.8.8) —
    previously both shapes silently re-based at the moof start."""
    frames = _frames(n=8, h=4, w=4, seed=21)
    fmp4 = _fmp4_implicit_offsets(frames)
    got = dict(decode_mp4_frames(fmp4))
    assert sorted(got) == list(range(8))
    for i in range(8):
        assert (got[i] == frames[i]).all(), f"frame {i} bytes wrong"


def test_wild_jpeg_remux_conformance():
    """Mux the machine's REAL wild JPEGs (multiple producers, SOF0 and
    SOF2, heterogeneous sizes from 2 KB to 500 KB) verbatim into one
    Photo-JPEG MP4 — classic AND fragmented — and require frame-exact
    parity with direct decode_jpeg.  This drives the sample-table /
    trun walk with genuinely irregular real-world sample sizes, not
    just our own encoder's output."""
    import glob
    import os

    from marketstore_spark.operators.jpeg import decode_jpeg
    from marketstore_spark.operators.mp4 import mux_mp4_samples

    paths = sorted(
        {
            p
            for pat in (
                "/root/.pyenv/versions/*/lib/python*/test/imghdrdata/python.jpg",
                "/root/.rustup/toolchains/*/share/doc/rust/html/"
                "embedded-book/assets/verify.jpeg",
                "/usr/share/doc/nodejs/thin-white-stripe.jpg",
                "/opt/spark-*/data/mllib/images/origin/multi-channel/"
                "grayscale.jpg",
            )
            for p in glob.glob(pat)
        }
    )
    payloads = [open(p, "rb").read() for p in paths if os.path.getsize(p)]
    if len(payloads) < 2:
        pytest.skip("not enough wild JPEG fixtures on this machine")
    direct = [decode_jpeg(p) for p in payloads]
    # w/h in the sample entry describe the track nominally; decode
    # uses each JFIF's own geometry, as Photo JPEG players do
    for fragmented in (False, True):
        blob = mux_mp4_samples(
            payloads, direct[0].shape[1], direct[0].shape[0],
            fps=1, samples_per_chunk=2, fragmented=fragmented,
        )
        got = dict(decode_mp4_frames(blob))
        assert sorted(got) == list(range(len(payloads)))
        for i, px in enumerate(direct):
            assert np.array_equal(got[i], px), (fragmented, paths[i])


def test_wild_audio_remux_conformance():
    """Re-mux the machine's REAL wild audio (stdlib pluck clips —
    independent producers, multiple PCM widths and a µ-law master)
    into MP4 'sowt' and 'twos' tracks and require sample-exact parity
    with the direct container decode — real-world content through the
    audio sample-table writer, not just synthetic tones."""
    import glob

    from marketstore_spark.operators.mp4 import decode_mp4_audio, encode_mp4_audio
    from marketstore_spark.operators.multimodal import decode_au, decode_wav

    clips = []
    for pat, dec in (
        ("/root/.pyenv/versions/*/lib/python*/test/audiodata/pluck-pcm*.wav",
         decode_wav),
        ("/root/.pyenv/versions/*/lib/python*/test/audiodata/pluck-ulaw.au",
         decode_au),
    ):
        for f in sorted(glob.glob(pat)):
            try:
                clips.append((f, *dec(open(f, "rb").read())))
            except (ValueError, NotImplementedError):
                continue
    if len(clips) < 2:
        pytest.skip("no stdlib audio fixtures on this machine")
    for path, rate, samples in clips:
        for codec in ("sowt", "twos"):
            r2, s2 = decode_mp4_audio(
                encode_mp4_audio(samples, rate=rate, codec=codec)
            )
            assert r2 == rate and np.array_equal(s2, samples), (path, codec)


def _clip(n=500, seed=9):
    rng = np.random.default_rng(seed)
    return rng.integers(-32768, 32768, size=n, dtype=np.int16)


def test_mp4_audio_pcm_codecs_roundtrip():
    from marketstore_spark.operators.mp4 import decode_mp4_audio, encode_mp4_audio

    x = _clip()
    for codec in ("twos", "sowt", "in24", "in32", "fl32", "fl64"):
        rate, s = decode_mp4_audio(encode_mp4_audio(x, rate=22050, codec=codec))
        assert rate == 22050
        assert np.array_equal(s, x), codec  # all these widths are exact
    # 8-bit unsigned keeps the high byte only (same loss as WAV u8)
    rate, s = decode_mp4_audio(encode_mp4_audio(x, rate=8000, codec="raw"))
    assert np.array_equal(s, ((x.astype(np.int32) >> 8) * 256).astype(np.int16))


def test_mp4_audio_stereo_and_chunking():
    """Interleaved stereo decodes to the first channel, and a clip
    spanning several chunks exercises the multi-run stsc just like the
    video path."""
    from marketstore_spark.operators.mp4 import decode_mp4_audio, encode_mp4_audio

    left, right = _clip(1000, seed=1), _clip(1000, seed=2)
    stereo = np.stack([left, right], axis=1)
    blob = encode_mp4_audio(stereo, rate=16000, codec="twos", frames_per_chunk=300)
    rate, s = decode_mp4_audio(blob)
    assert rate == 16000 and np.array_equal(s, left)


def test_mp4_audio_g711_matches_closed_form():
    from marketstore_spark.operators.mp4 import decode_mp4_audio, encode_mp4_audio
    from marketstore_spark.operators.multimodal import _alaw_to_int16, _ulaw_to_int16

    codes = np.arange(256, dtype=np.uint8)
    for codec, ref in (("ulaw", _ulaw_to_int16), ("alaw", _alaw_to_int16)):
        rate, s = decode_mp4_audio(encode_mp4_audio(codes, rate=8000, codec=codec))
        assert rate == 8000 and np.array_equal(s, ref(codes)), codec


def test_mp4_audio_cross_container_identity():
    """The same clip stored as WAV and as an MP4 'twos' track decodes
    to identical samples through the sniffing dispatch."""
    from marketstore_spark.operators.mp4 import encode_mp4_audio
    from marketstore_spark.operators.multimodal import (
        decode_audio_any,
        encode_wav_pcm16,
    )

    x = _clip(300, seed=4)
    rw, sw = decode_audio_any(encode_wav_pcm16(x, rate=16000))
    rm, sm = decode_audio_any(encode_mp4_audio(x, rate=16000, codec="sowt"))
    assert rw == rm == 16000
    assert np.array_equal(sw, sm)
    with pytest.raises(ValueError):
        decode_audio_any(b"\x00" * 40)


def test_mp4_audio_aac_fence():
    from marketstore_spark.operators.mp4 import decode_mp4_audio, encode_mp4_audio

    blob = encode_mp4_audio(_clip(50), codec="twos")
    aac = blob.replace(b"twos", b"mp4a")
    with pytest.raises(NotImplementedError):
        decode_mp4_audio(aac)


def test_audio_features_mixed_containers(spark):
    """audio_features container-sniffs: the same closed-form square
    wave in WAV and MP4 yields identical feature rows; corrupt and
    video payloads stay decoded_ok=0."""
    from marketstore_spark.operators.mp4 import encode_mp4_audio
    from marketstore_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_features,
        decode_wav,
        synth_square_wav,
    )

    wav = synth_square_wav(17)
    _, samples = decode_wav(wav)
    m4a = encode_mp4_audio(samples, rate=8000 + (17 % 4) * 4000, codec="in24")
    rows = [
        (1, "audio", "wav", 0, 0, len(wav), bytearray(wav)),
        (2, "audio", "m4a", 0, 0, len(m4a), bytearray(m4a)),
        (3, "audio", "wav", 0, 0, 5, bytearray(b"xxxxx")),
    ]
    out = {
        r["media_id"]: r
        for r in audio_features(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).collect()
    }
    assert out[1]["decoded_ok"] == 1 and out[2]["decoded_ok"] == 1
    for field in ("rate", "n_samples", "peak", "energy", "zero_crossings",
                  "trailing_silence"):
        assert out[1][field] == out[2][field], field
    assert out[3]["decoded_ok"] == 0


def test_mp4_through_spark_frame_ops(spark):
    """MP4 media rows flow through the same mapInPandas operators as
    AVI — probe-only sampling AND full decode-to-BMP — alongside an
    avc1 row that yields metadata but no frames."""
    from marketstore_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_bmp,
        extract_frames,
        frame_sample_avi,
    )

    frames = _frames(n=9, h=6, w=8, seed=5)
    mp4 = encode_mp4(frames, fps=10, codec="raw", samples_per_chunk=4)
    avc1 = encode_mp4(frames, fps=10, codec="jpeg").replace(b"jpeg", b"avc1", 1)
    rows = [
        (1, "video", "mp4", 8, 6, len(mp4), bytearray(mp4)),
        (2, "video", "mp4", 8, 6, len(avc1), bytearray(avc1)),
        (3, "video", "mp4", 0, 0, 7, bytearray(b"notavid")),  # skipped
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    meta = frame_sample_avi(media, every_n=4).collect()
    # probing works for BOTH media 1 (raw) and 2 (avc1): sampling
    # plans over inter-frame corpora need counts without decode
    assert {(r["media_id"], r["frame_idx"]) for r in meta} == {
        (1, 0), (1, 4), (1, 8), (2, 0), (2, 4), (2, 8),
    }
    assert all(r["width"] == 8 and r["fps"] == 10 for r in meta)

    out = extract_frames(media, every_n=4).collect()
    assert {(r["media_id"], r["frame_idx"]) for r in out} == {(1, 0), (1, 4), (1, 8)}
    for r in out:
        px = decode_bmp(bytes(r["payload"]))
        assert (px == frames[r["frame_idx"]]).all()  # container→BMP exact


def test_wild_mp4_files_probe_without_escape():
    """Enumerate any REAL .mp4/.mov/.m4v on this machine (multi-
    producer box layouts the self-built fixtures can't represent) and
    require the full probe → sample-walk → decode pipeline to stay
    inside the ValueError/NotImplementedError contract — the same
    sweep r11 ran for JPEG/PNG/GIF/WAV.  Skips when the machine ships
    no video files (this container has none today); the enumeration
    is the point, so new fixtures are picked up automatically."""
    import os

    # bounded os.walk (depth-capped, dir-budgeted) — a full recursive
    # glob over /usr/lib-sized trees costs minutes; fixture discovery
    # must stay cheap enough for every suite run
    roots = ("/usr/share", "/opt", "/usr/local/share", "/root/testdata")
    exts = (".mp4", ".mov", ".m4v")
    paths, budget = [], 20_000
    for root in roots:
        base_depth = root.count(os.sep)
        for dirpath, dirnames, filenames in os.walk(root):
            budget -= 1
            if budget <= 0:
                break
            if dirpath.count(os.sep) - base_depth >= 6:
                dirnames[:] = []
            paths.extend(
                os.path.join(dirpath, f)
                for f in filenames
                if f.lower().endswith(exts)
            )
    paths = sorted({p for p in paths if os.path.isfile(p)})[:50]
    if not paths:
        pytest.skip("no wild .mp4/.mov fixtures on this machine")
    for p in paths:
        payload = open(p, "rb").read()
        try:
            info = probe_mp4(payload)
            assert info["width"] >= 0 and info["n_frames"] >= 0
            list(decode_mp4_frames(payload, every_n=10))
        except (ValueError, NotImplementedError):
            pass  # foreign/fenced essence is data, not a bug


def test_v2_lpcm_sound_descriptor():
    """Modern QuickTime 'lpcm' v2 sound descriptors move EVERY field
    (float64 rate, 32-bit channel/bits, format flags): parsing them
    with the v0 offsets would silently read the always3/always16
    constants as channels/bits and de-interleave garbage.  The writer
    emits spec-shaped v2 entries; decode is exact for int16 and
    within 1 LSB for float32, mono and stereo; compressed essence
    under a v2 descriptor fences."""
    import numpy as np

    from marketstore_spark.operators.mp4 import (
        decode_mp4_audio,
        encode_mp4_audio,
    )
    from marketstore_spark.operators.multimodal import decode_audio_any

    t = np.arange(1500, dtype=np.float64)
    sig = (7000 * np.sin(t / 12)).astype(np.int16)
    for codec in ("lpcm16", "lpcmf32"):
        for x in (sig, np.stack([sig, -sig], -1)):
            blob = encode_mp4_audio(x, rate=48000, codec=codec)
            assert b"lpcm" in blob
            rate, s = decode_mp4_audio(blob)
            assert rate == 48000 and len(s) == 1500
            if codec == "lpcm16":
                assert np.array_equal(s, sig)
            else:
                assert np.abs(s.astype(int) - sig.astype(int)).max() <= 1
            r2, s2 = decode_audio_any(blob)
            assert r2 == rate and np.array_equal(s2, s)
    blob = encode_mp4_audio(sig, 8000, "lpcm16")
    with pytest.raises(NotImplementedError):
        decode_mp4_audio(blob.replace(b"lpcm", b"mp4a", 1))
    # planar (non-interleaved) flag fences instead of mis-reading
    planar = bytearray(blob)
    pos = planar.find(b"lpcm", 30)  # the stsd entry fourcc
    # formatSpecificFlags at entry_start-8+... : locate via struct:
    # entry payload starts 4 after fourcc start; flags at +60 from
    # the fourcc (see decode offsets: s+68 with fourcc at s+12)
    flag_off = pos + 56
    (flags,) = struct.unpack_from(">I", planar, flag_off)
    struct.pack_into(">I", planar, flag_off, flags | 0x20)
    with pytest.raises(NotImplementedError):
        decode_mp4_audio(bytes(planar))
