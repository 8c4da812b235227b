"""Unit tests for the LLM-pipeline operators (dedup, similarity, text,
multimodal) on small literal DataFrames with known answers."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from rust_dataframe_spark.operators import dedup as dd
from rust_dataframe_spark.operators import multimodal as mm
from rust_dataframe_spark.operators import pairs as pr
from rust_dataframe_spark.operators import similarity as sim
from rust_dataframe_spark.operators import text as tx


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " with a tiny tail"),  # near dup of 1
        (4, "completely different words about spark dataframes and shuffles here"),
        (5, "der hund und die katze sind von dem haus zu dem garten gelaufen"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


class TestExactDedup:
    def test_keeps_min_id(self, docs):
        out = {r["keep_id"]: r["copies"] for r in dd.exact_dedup(docs, "text", "doc_id").collect()}
        assert out[1] == 2  # docs 1+2 collapsed
        assert 2 not in out
        assert out[3] == 1 and out[4] == 1


def _wav_bytes(samples, *, width=2, channels=1, rate=8000):
    """A REAL RIFF/WAVE payload via the stdlib wave module (no binaries in
    the repo), signed ints in; 8-bit rebased to unsigned on the wire."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(rate)
        if width == 1:
            w.writeframes(bytes((s + 128) & 0xFF for s in samples))
        else:
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


class TestWavReal:
    """Real audio decode (decode_wav + segment_audio fake_decode=False) —
    the audio analog of TestPngReal."""

    def test_decode_wav_16bit_and_8bit(self):
        sam = [0, 1000, -1000, 32000, -32000]
        sr, nch, sw, got = mm.decode_wav(_wav_bytes(sam))
        assert (sr, nch, sw) == (8000, 1, 2) and got == sam
        sam8 = [0, 10, -10, 127, -128]
        _sr, _nch, sw8, got8 = mm.decode_wav(_wav_bytes(sam8, width=1))
        assert sw8 == 1 and got8 == sam8

    def test_decode_wav_stereo_mixes_and_rejects_exotic(self):
        import struct

        stereo = [100, 200, -100, -200]  # 2 frames of (L, R)
        _sr, nch, _sw, got = mm.decode_wav(_wav_bytes(stereo, channels=2))
        assert nch == 2 and got == [150, -150]
        with pytest.raises(NotImplementedError):
            mm.decode_wav(b"ID3\x03mp3-ish-bytes")
        # 32-bit PCM: pre-round-7 this depth raised; it now decodes for
        # real through operators/wave_ext (TestWaveExt pins the matrix)
        import io
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(4)
            w.setframerate(8000)
            w.writeframes(struct.pack("<2i", 1, 2))
        _sr, _nch, sw, s = mm.decode_wav(buf.getvalue())
        assert sw == 4 and s == [1, 2]

    def test_segment_audio_real_wav_finds_the_burst(self, spark):
        """silence / loud burst / silence at 16-bit: exactly one segment,
        located at the burst, energy near the burst's rescaled amplitude."""
        frame = 128
        silence = [0] * (frame * 3)
        burst = [16000 if i % 2 == 0 else -16000 for i in range(frame * 4)]
        payload = _wav_bytes(silence + burst + silence)
        df = spark.createDataFrame(
            [(1, bytearray(payload))], "doc_id bigint, payload binary"
        )
        segs = mm.segment_audio(
            df, frame_bytes=frame, energy_threshold=100, min_frames=2,
            fake_decode=False,
        ).collect()
        assert len(segs) == 1
        s = segs[0]
        assert (s["start_frame"], s["n_frames"]) == (3, 4)
        assert abs(s["mean_energy"] - 16000 / 128) < 1e-9

    def test_segment_audio_fake_path_unchanged(self, spark):
        """Non-WAV payloads keep the documented byte-energy stand-in."""
        data = bytes([0] * 32 + [255] * 32 + [0] * 32)
        df = spark.createDataFrame(
            [(1, bytearray(data))], "doc_id bigint, payload binary"
        )
        segs = mm.segment_audio(
            df, frame_bytes=16, energy_threshold=128, min_frames=2
        ).collect()
        assert len(segs) == 1 and segs[0]["n_frames"] == 2


class TestGifReal:
    """Round-5 video-modality real path: the pure-stdlib animated-GIF codec
    (operators/gif.py, genuine variable-width LZW) wired as
    sample_frames' non-fake path — completes the PNG/WAV/GIF decode
    matrix behind q327/q333/q334."""

    @staticmethod
    def _gif(w=10, h=6, nframes=5, delay_ms=40):
        from rust_dataframe_spark.operators.gif import encode_gif

        pal = [(i, 2 * i, 3 * i) for i in range(64)]
        frames = [
            bytes((x + 2 * y + 5 * f) % 64 for y in range(h) for x in range(w))
            for f in range(nframes)
        ]
        return encode_gif(w, h, frames, pal, delay_ms=delay_ms), pal, frames

    def test_lzw_dict_growth_and_reset(self):
        """A 200x120 structured frame forces >4096 dictionary entries, so
        the stream exercises width growth 7->12 bits AND a mid-stream
        clear/reset; decode must still be byte-exact."""
        from rust_dataframe_spark.operators.gif import decode_gif, encode_gif

        w, h = 200, 120
        pal = [(i, (2 * i) % 256, (3 * i) % 256) for i in range(256)]
        fr = bytes((x * 7 + y * 13) % 256 for y in range(h) for x in range(w))
        gw, gh, out = decode_gif(encode_gif(w, h, [fr], pal))
        assert (gw, gh) == (w, h)
        assert out[0][1] == b"".join(bytes(pal[i]) for i in fr)

    def test_rejects_malformed_and_exotic(self):
        import struct

        import pytest

        from rust_dataframe_spark.operators.gif import GifError, decode_gif

        for bad in (b"", b"GIF89a", b"\x89PNG\r\n\x1a\nxxxx"):
            with pytest.raises(GifError):
                decode_gif(bad)
        data, _, _ = self._gif()
        # corrupt a byte inside the LZW stream -> loud failure, not garbage
        corrupt = bytearray(data)
        corrupt[-10] ^= 0xFF
        with pytest.raises(GifError):
            decode_gif(bytes(corrupt))
        # interlace is SUPPORTED since round 7 — relabeling a sequential
        # stream as interlaced decodes (pixel count unchanged) but with
        # rows four-pass-reordered; the parity law below pins the real
        # interlaced path (locate the image descriptor by full signature:
        # 0x2C, left=top=0, w=h=4 — a bare 0x2C also occurs in the table)
        from rust_dataframe_spark.operators.gif import encode_gif

        hdr = bytearray(self._gif(w=4, h=4, nframes=1)[0])
        img = hdr.index(
            b"\x2c" + struct.pack("<HHHH", 0, 0, 4, 4), 13
        )
        hdr[img + 9] |= 0x40
        relabeled = decode_gif(bytes(hdr))
        assert len(relabeled[2][0][1]) == 4 * 4 * 3
        # parity law: interlaced encode+decode == sequential encode+decode
        pal = [(i, 2 * i, 3 * i) for i in range(64)]
        for w, h in [(10, 6), (7, 11), (1, 1), (5, 2)]:
            fr = [bytes((x + 2 * y + 5 * f) % 64
                        for y in range(h) for x in range(w))
                  for f in range(3)]
            assert decode_gif(encode_gif(w, h, fr, pal)) == decode_gif(
                encode_gif(w, h, fr, pal, interlace=True)
            ), (w, h)

    def test_partial_frame_compositing_disposal_matrix(self):
        """Round 8 (VERDICT r7 #1): GIF89a sub-rectangle deltas composite
        onto the logical screen under disposal 0-3 + GCE transparency.
        Pins every method against a hand-written reference compositor."""
        from rust_dataframe_spark.operators.gif import (
            decode_gif,
            encode_gif_frames,
        )

        W, H = 12, 8
        pal = [(i, 2 * i, 3 * i) for i in range(64)]
        bg = 5
        base = bytes((x + 2 * y) % 64 for y in range(H) for x in range(W))
        p1 = bytes((x + 7) % 64 for y in range(3) for x in range(4))   # 4x3 @ (2,1)
        p2 = bytes((x + 11) % 64 for y in range(2) for x in range(5))  # 5x2 @ (6,4)
        p3 = bytes(
            63 if (x + y) % 3 == 0 else (x + 29) % 64
            for y in range(4)
            for x in range(3)
        )  # 3x4 @ (0, 2), transparent index 63
        p4 = bytes((x + 41) % 64 for y in range(2) for x in range(2))  # 2x2 @ (9,0)
        gif = encode_gif_frames(
            W, H, pal,
            [
                {"indices": base, "disposal": 1},
                {"indices": p1, "left": 2, "top": 1, "w": 4, "h": 3,
                 "disposal": 1},
                {"indices": p2, "left": 6, "top": 4, "w": 5, "h": 2,
                 "disposal": 2},
                {"indices": p3, "left": 0, "top": 2, "w": 3, "h": 4,
                 "disposal": 3, "transparent": 63},
                {"indices": p4, "left": 9, "top": 0, "w": 2, "h": 2,
                 "disposal": 0},
            ],
            bg_index=bg,
        )
        gw, gh, frames = decode_gif(gif)
        assert (gw, gh, len(frames)) == (W, H, 5)

        # reference compositor: canvas of palette indices; None = use bg
        canvas = [bg] * (W * H)
        expect = []

        def paint(patch, left, top, w, h, transparent=None):
            for yy in range(h):
                for xx in range(w):
                    v = patch[yy * w + xx]
                    if v == transparent:
                        continue
                    canvas[(top + yy) * W + (left + xx)] = v

        def snap():
            expect.append(
                b"".join(bytes(pal[v]) for v in canvas)
            )

        paint(base, 0, 0, W, H); snap()                       # f0, keep
        paint(p1, 2, 1, 4, 3); snap()                          # f1, keep
        paint(p2, 6, 4, 5, 2); snap()                          # f2, then bg-restore
        for yy in range(2):
            for xx in range(5):
                canvas[(4 + yy) * W + (6 + xx)] = bg
        saved = list(canvas)
        paint(p3, 0, 2, 3, 4, transparent=63); snap()          # f3, then prev-restore
        canvas = saved
        paint(p4, 9, 0, 2, 2); snap()                          # f4
        for i, ((_d, got), want) in enumerate(zip(frames, expect)):
            assert got == want, f"frame {i} composite mismatch"

    def test_partial_frame_parity_and_fail_loud(self):
        """Parity law: full-frame non-transparent deltas == the plain
        full-frame encoder's decode; rect overruns fail loud."""
        import pytest

        from rust_dataframe_spark.operators.gif import (
            GifError,
            decode_gif,
            encode_gif,
            encode_gif_frames,
        )

        W, H = 9, 5
        pal = [(i, 2 * i, 3 * i) for i in range(64)]
        frs = [
            bytes((x + 2 * y + 5 * f) % 64 for y in range(H) for x in range(W))
            for f in range(3)
        ]
        assert decode_gif(encode_gif(W, H, frs, pal)) == decode_gif(
            encode_gif_frames(
                W, H, pal,
                [{"indices": f, "disposal": 1} for f in frs],
            )
        )
        # interlaced PARTIAL frame also composites (deinterlace-then-paint)
        patch = bytes((x + 3 * y) % 64 for y in range(4) for x in range(4))
        g1 = encode_gif_frames(
            W, H, pal,
            [{"indices": frs[0]},
             {"indices": patch, "left": 1, "top": 1, "w": 4, "h": 4,
              "interlace": True}],
        )
        g2 = encode_gif_frames(
            W, H, pal,
            [{"indices": frs[0]},
             {"indices": patch, "left": 1, "top": 1, "w": 4, "h": 4}],
        )
        assert decode_gif(g1) == decode_gif(g2)
        with pytest.raises(GifError, match="overruns"):
            encode_gif_frames(
                W, H, pal,
                [{"indices": patch, "left": 7, "top": 3, "w": 4, "h": 4}],
            )
        # a crafted container whose rect overruns must also fail at decode
        ok = encode_gif_frames(
            W, H, pal, [{"indices": patch, "left": 0, "top": 0, "w": 4, "h": 4}]
        )
        import struct

        bad = bytearray(ok)
        img = bad.index(b"\x2c" + struct.pack("<HHHH", 0, 0, 4, 4), 13)
        struct.pack_into("<H", bad, img + 1, 7)  # left=7 -> 7+4 > 9
        with pytest.raises(GifError, match="overruns"):
            decode_gif(bytes(bad))

    def test_sample_frames_real_even_sampling_and_timestamps(self, spark):
        """5-frame GIF sampled at n_frames=3 -> source frames 0,1,3 with
        cumulative 40ms GCE delays; frame bytes are the real RGB planes."""
        data, pal, frames = self._gif(nframes=5)
        df = spark.createDataFrame(
            [(7, bytearray(data))], "doc_id bigint, payload binary"
        )
        out = sorted(
            mm.sample_frames(df, n_frames=3, fake_decode=False).collect(),
            key=lambda r: r["frame_idx"],
        )
        assert [r["frame_idx"] for r in out] == [0, 1, 2]
        assert [r["frame_ts_ms"] for r in out] == [0, 40, 120]  # src 0,1,3
        for r, src in zip(out, [0, 1, 3]):
            assert bytes(r["frame"]) == b"".join(bytes(pal[i]) for i in frames[src])

    def test_sample_frames_real_non_gif_raises(self, spark):
        import pytest

        # an unknown container (no GIF/AVI/MP4/MKV magic) hits the
        # documented pyav/ffmpeg gate...
        df = spark.createDataFrame(
            [(1, bytearray(b"FLV\x01\x05----------"))],
            "doc_id bigint, payload binary",
        )
        with pytest.raises(Exception, match="pyav/ffmpeg"):
            mm.sample_frames(df, n_frames=2, fake_decode=False).collect()
        # ...while a TRUNCATED MP4 (round 9: MP4 demuxes for real now)
        # fails loud structurally instead of being faked or skipped
        df2 = spark.createDataFrame(
            [(1, bytearray(b"\x00\x00\x00\x18ftypmp42----"))],
            "doc_id bigint, payload binary",
        )
        with pytest.raises(Exception, match="moov|truncated|overruns"):
            mm.sample_frames(df2, n_frames=2, fake_decode=False).collect()


class TestCdcChunks:
    def test_reconstruction_and_shift_resistance(self, spark):
        base = " ".join(f"tok{i * 37 % 211}" for i in range(200))
        df = spark.createDataFrame(
            [(1, base), (2, "prefix0 prefix1 prefix2 " + base)],
            "doc_id bigint, text string",
        )
        ch = dd.cdc_chunks(df, "doc_id", "text", avg_words=16)
        rows = ch.collect()
        # chunks of each doc reassemble to the doc exactly (word-chars)
        per_doc = {}
        for r in rows:
            per_doc.setdefault(r["doc_id"], []).append(r)
        for did, text in [(1, base), (2, "prefix0 prefix1 prefix2 " + base)]:
            got = sum(r["n_words"] for r in per_doc[did])
            assert got == len(text.split(" "))
        # shift resistance: most of doc 2's chunk digests match doc 1's
        d1 = {r["digest"] for r in per_doc[1]}
        shared = sum(1 for r in per_doc[2] if r["digest"] in d1)
        assert shared >= len(per_doc[2]) - 2  # only the prefix chunk differs
        assert shared >= 1

    def test_determinism_under_repartition(self, spark):
        base = " ".join(f"w{i % 97}x{i % 13}" for i in range(300))
        df = spark.createDataFrame([(1, base)], "doc_id bigint, text string")
        a = sorted(map(tuple, dd.cdc_chunks(df, "doc_id", "text").collect()))
        b = sorted(
            map(
                tuple,
                dd.cdc_chunks(df.repartition(8), "doc_id", "text").collect(),
            )
        )
        assert a == b


class TestSpanExcision:
    """excise_repeated_spans: the act half of repeated_ngram_spans —
    cross-doc repeated spans cut out, unique remainders kept in order,
    chars conserved (VERDICT r4 #4)."""

    @pytest.fixture(scope="class")
    def excised(self, spark):
        shared = "alpha beta gamma delta epsilon zeta eta"  # 7 words
        rows = [
            (1, f"one two three {shared} four five six"),
            (2, f"seven eight nine ten {shared} eleven twelve"),
            (3, "totally unique document with no repeats at all whatsoever"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        return {
            r["doc_id"]: r
            for r in dd.excise_repeated_spans(
                df, "doc_id", "text", n=5, min_docs=2
            ).collect()
        }

    def test_excision_and_order(self, excised):
        assert excised[1]["text"] == "one two three four five six"
        assert excised[2]["text"] == "seven eight nine ten eleven twelve"
        assert excised[3]["text"].startswith("totally unique")
        assert excised[1]["n_spans"] == 1 and excised[3]["n_spans"] == 0

    def test_chars_conserved(self, excised):
        for r in excised.values():
            assert r["chars_kept"] + r["chars_removed"] == r["chars_in"]
        # doc 3 untouched: nothing removed
        assert excised[3]["chars_removed"] == 0
        # the shared 7-word span's chars really left docs 1 and 2
        span_chars = len("alpha beta gamma delta epsilon zeta eta".replace(" ", ""))
        assert excised[1]["chars_removed"] == span_chars
        assert excised[2]["chars_removed"] == span_chars


class TestMinhashLSH:
    def test_identical_docs_identical_signatures(self, docs):
        sh = docs.select(
            "doc_id", F.array_distinct(dd.shingle(F.col("text"), 3)).alias("s")
        )
        sig = sh.select("doc_id", dd.minhash_signature(F.col("s"), 8).alias("sig"))
        rows = {r["doc_id"]: r["sig"] for r in sig.collect()}
        assert rows[1] == rows[2]
        assert rows[1] != rows[4]

    def test_near_dup_pairs_finds_duplicates(self, docs):
        pairs = dd.near_dup_pairs(
            docs, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4, threshold=0.5
        ).collect()
        found = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 2) in found  # exact dup, jaccard 1.0
        jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
        assert jac[(1, 2)] == 1.0
        assert all(j >= 0.5 for j in jac.values())
        # unrelated docs must not pair
        assert not any(4 in p or 5 in p for p in found)

    def test_xxhash64_family_same_minhash_semantics(self, docs):
        """The production hash family must preserve every MinHash property
        the md5 family has: identical sets -> identical signatures, distinct
        sets -> distinct signatures, fixed-width slots, and slot-wise
        monotonicity (a superset's slot min can only be <= the subset's)."""
        sh = docs.select(
            "doc_id", F.array_distinct(dd.shingle(F.col("text"), 3)).alias("s")
        )
        sig = sh.select(
            "doc_id",
            dd.minhash_signature(F.col("s"), 8, hash_family="xxhash64").alias("sig"),
        )
        rows = {r["doc_id"]: r["sig"] for r in sig.collect()}
        assert rows[1] == rows[2] and rows[1] != rows[4]
        assert all(len(slot) == 16 for slot in rows[1])
        import pytest as _pytest

        with _pytest.raises(ValueError, match="md5|xxhash64"):
            dd.minhash_signature(F.col("s"), 8, hash_family="sha1")

    def test_xxhash64_slotwise_monotone_under_superset(self, spark):
        base = [f"sh{i}" for i in range(20)]
        df = spark.createDataFrame(
            [(1, base[:10]), (2, base)], "id int, s array<string>"
        )
        rows = {
            r["id"]: r["sig"]
            for r in df.select(
                "id",
                dd.minhash_signature(F.col("s"), 8, hash_family="xxhash64").alias("sig"),
            ).collect()
        }
        assert all(b <= a for a, b in zip(rows[1], rows[2]))

    def test_shingle_short_doc(self, spark):
        f = spark.createDataFrame([(1, "one two")], "id int, text string")
        sh = f.select(dd.shingle(F.col("text"), 3).alias("s")).first()["s"]
        assert sh == ["one two"]

    # (4, 8): zero rows per band, every doc collides; (18, 4): two slots
    # left out of every band; (16, 0) / (0, 4): no bands / no rows
    @pytest.mark.parametrize("num_hashes,bands", [(4, 8), (18, 4), (16, 0), (0, 4)])
    def test_banding_fails_loud(self, docs, num_hashes, bands):
        kw = {"num_hashes": num_hashes, "bands": bands}
        with pytest.raises(ValueError, match="num_hashes"):
            dd.near_dup_pairs(docs, "doc_id", "text", **kw)
        with pytest.raises(ValueError, match="num_hashes"):
            dd.lsh_band_index(docs, "doc_id", "text", **kw)
        with pytest.raises(ValueError, match="num_hashes"):
            dd.incremental_near_dups(docs, docs, "doc_id", "text", **kw)

    @pytest.mark.parametrize("bands,rows_per_band", [(4, 0), (0, 4), (-1, -4)])
    def test_candidate_pairs_banding_fails_loud(self, docs, bands, rows_per_band):
        sig = dd.minhash_signatures_df(
            docs.select("doc_id", dd.shingle(F.col("text"), 3).alias("s")), "doc_id", "s", 16
        )
        with pytest.raises(ValueError, match="num_hashes"):
            dd.lsh_candidate_pairs(sig, "doc_id", "sig", bands=bands, rows_per_band=rows_per_band)

    def test_band_hashes_cover_every_slot(self):
        assert len(pr.band_hashes(F.col("sig"), 16, 4)) == 4
        assert len(pr.band_hashes(F.col("sig"), 16, 16)) == 16


class TestCollapseFastPath:
    """The exact-duplicate collapse (pairs.collapse_exact -> verify the
    representatives -> pairs.expand_groups) must equal the path it
    shortcuts: self_pairs -> verify over every row, no collapse.  Duplicate
    groups of size 1, 2 and 3, plus near-dups of the grouped rows."""

    @staticmethod
    def _ids(id_type):
        cast = str if id_type == "string" else int
        return [cast(i) for i in (10, 3, 7, 4, 12, 1, 8, 5)]

    @pytest.mark.parametrize("id_type", ["bigint", "int", "string"])
    def test_near_dup_pairs_equals_uncollapsed(self, spark, id_type):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
        other = "one two three four five six seven eight nine ten eleven twelve"
        texts = [
            base,  # group of 3
            base,
            base,
            other,  # group of 2
            other,
            base + " nu",  # near-dup of the 3-group
            other + " thirteen",  # near-dup of the 2-group
            "completely unrelated words sharing no shingle with anything else",
        ]
        docs = spark.createDataFrame(
            list(zip(self._ids(id_type), texts)), f"doc_id {id_type}, text string"
        )
        got = dd.near_dup_pairs(docs, "doc_id", "text", threshold=0.5)
        cands = pr.self_pairs(
            dd.lsh_band_index(docs, "doc_id", "text"), "doc_id", ["band", "bh"], distinct=True
        )
        jac = F.round(dd.shingle_jaccard(F.col("t_a"), F.col("t_b"), 3), 6)
        ref = (
            pr.with_payload(cands, docs, "doc_id", {"t": F.col("text")})
            .select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= 0.5)
        )
        got_rows = sorted(tuple(r) for r in got.collect())
        assert got_rows == sorted(tuple(r) for r in ref.collect())
        scores = [r[2] for r in got_rows]
        # the 3-group gives 3 within pairs, the 2-group 1; near-dups add more
        assert scores.count(1.0) == 4 and any(j < 1.0 for j in scores)

    @pytest.mark.parametrize("id_type", ["bigint", "int", "string"])
    @pytest.mark.parametrize("vec_type", ["float", "double"])
    def test_srp_near_dup_equals_uncollapsed(self, spark, id_type, vec_type):
        u = [1.0, 0.5, -0.25, 2.0, 0.0, -1.0, 0.75, 1.5]
        v = [-0.5, 1.0, 1.25, -2.0, 0.5, 0.25, -0.75, 1.0]
        vecs = [
            u,  # group of 3
            u,
            u,
            v,  # group of 2
            v,
            [x + 0.125 for x in u],  # near-dup of the 3-group
            [x - 0.125 for x in v],  # near-dup of the 2-group
            [0.0, -1.0, 0.0, 0.0, 2.0, 0.0, 0.0, -0.5],
        ]
        df = spark.createDataFrame(
            list(zip(self._ids(id_type), vecs)), f"vec_id {id_type}, emb array<{vec_type}>"
        )
        got = sim.srp_near_dup(df, "vec_id", "emb", n_planes=3, seed=6, threshold=0.8)
        cands = pr.self_pairs(
            sim.srp_candidates(df, "vec_id", "emb", n_planes=3, seed=6),
            "vec_id",
            ["bucket"],
            distinct=False,
        )
        emb = {"emb": sim.as_double(F.col("emb"))}
        ref = sim.cosine_verify(pr.with_payload(cands, df, "vec_id", emb), ["id_a", "id_b"], 0.8)
        got_rows = sorted(tuple(r) for r in got.collect())
        assert got_rows == sorted(tuple(r) for r in ref.collect())
        # 3 + 1 within-group pairs, and each near-dup pairs with its group
        scores = [r[2] for r in got_rows]
        assert len(scores) == 9 and scores.count(1.0) == 4


class TestSimhash:
    def test_deterministic_and_close_for_near_dups(self, docs):
        out = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs, "doc_id", "text").collect()}
        assert out[1] == out[2]  # identical text, identical simhash
        ham_near = bin((out[1] ^ out[3]) & ((1 << 64) - 1)).count("1")
        ham_far = bin((out[1] ^ out[4]) & ((1 << 64) - 1)).count("1")
        assert ham_near < ham_far  # near-dup closer in hamming space


class TestSimilarity:
    def test_ivf_batch_matches_single_query_ivf(self, spark):
        """ivf_batch_topk on a 1-row query table == ivf_topk for that query
        (modulo ivf_topk including the query itself, which batch excludes)."""
        rows = [(i, [float((i * 7 + d) % 5) for d in range(4)]) for i in range(30)]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        centroids = [(i, [float((i * 7 + d) % 5) for d in range(4)]) for i in range(3)]
        qv = rows[9][1]
        single = [
            r["vec_id"]
            for r in sim.ivf_topk(
                df, "vec_id", "embedding", qv, centroids, nprobe=2, k=6
            ).collect()
            if r["vec_id"] != 9
        ]
        batch = (
            sim.ivf_batch_topk(
                df.filter(F.col("vec_id") == 9), df, "vec_id", "embedding",
                centroids, nprobe=2, k=6,
            )
            .orderBy("rank")
            .collect()
        )
        assert [r["neighbor_id"] for r in batch][: len(single)] == single

    def test_ann_recall_bounds(self, spark):
        mk = lambda rows: spark.createDataFrame(
            rows, "query_id bigint, rank int, neighbor_id bigint"
        )
        exact = mk([(1, r, 10 + r) for r in range(1, 4)] + [(2, r, 20 + r) for r in range(1, 4)])
        perfect = sim.ann_recall(exact, exact, 3)
        assert {(r["query_id"], r["recall_at_k"]) for r in perfect.collect()} == {
            (1, 1.0), (2, 1.0)
        }
        disjoint = mk([(1, r, 90 + r) for r in range(1, 4)])
        zero = sim.ann_recall(disjoint, exact, 3)
        got = {r["query_id"]: (r["n_hits"], r["recall_at_k"]) for r in zero.collect()}
        assert got == {1: (0, 0.0), 2: (0, 0.0)}

    def test_cosine_topk_self_first(self, spark):
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        out = sim.cosine_topk(df, "vec_id", "embedding", [1.0, 0.0, 0.0], k=3).collect()
        assert [r["vec_id"] for r in out] == [0, 1, 2]
        assert out[0]["cos_sim"] == 1.0

    def test_srp_same_vector_same_bucket(self, spark):
        rows = [(0, [1.0] * 8), (1, [1.0] * 8), (2, [-1.0] * 8)]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        out = {r["vec_id"]: r["bucket"] for r in sim.srp_candidates(df, "vec_id", "embedding", n_planes=6).collect()}
        assert out[0] == out[1]
        assert len(out[0]) == 6
        # opposite vector flips every non-zero-dot bit
        assert out[2] != out[0]

    def test_srp_empty_input_gives_empty_frames(self, spark):
        df = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
        cands = sim.srp_candidates(df, "vec_id", "embedding", n_planes=4)
        assert cands.columns == ["vec_id", "bucket"] and cands.count() == 0
        probes = sim.srp_multiprobe(df, "vec_id", "embedding", n_planes=4, n_probes=1)
        assert probes.columns == ["vec_id", "probe", "bucket"] and probes.count() == 0
        out = sim.srp_near_dup(df, "vec_id", "embedding", n_planes=4)
        assert out.columns == ["id_a", "id_b", "cos_sim"] and out.count() == 0

    def test_srp_planes_deterministic(self):
        assert sim.srp_planes(16, 4, seed=7) == sim.srp_planes(16, 4, seed=7)
        assert sim.srp_planes(16, 4, seed=7) != sim.srp_planes(16, 4, seed=8)

    def test_ivf_assign_and_topk(self, spark):
        rows = [
            (0, [1.0, 0.0]),   # centroid 0 direction
            (1, [0.0, 1.0]),   # centroid 1 direction
            (10, [0.9, 0.1]),  # near centroid 0
            (11, [0.1, 0.9]),  # near centroid 1
            (12, [-1.0, 0.0]),  # anti, still nearest-of-two deterministic
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
        cells = {r["vec_id"]: r["cell"] for r in sim.ivf_assign(df, "vec_id", "embedding", cents).collect()}
        assert cells[0] == 0 and cells[10] == 0
        assert cells[1] == 1 and cells[11] == 1
        # nprobe=1 searches only the query's own cell
        out = sim.ivf_topk(df, "vec_id", "embedding", [1.0, 0.0], cents, nprobe=1, k=10).collect()
        ids = [r["vec_id"] for r in out]
        assert 0 in ids and 10 in ids
        assert 1 not in ids and 11 not in ids  # other cell never scanned
        assert out[0]["vec_id"] == 0 and out[0]["cos_sim"] == 1.0


class TestText:
    def test_token_stats(self, spark):
        f = spark.createDataFrame([(1, "Hello, world! abc123 x")], "id int, text string")
        r = tx.token_stats(f, "id", "text").first()
        assert r["n_words"] == 4
        # Hello , world ! abc 123 x  -> 7 BPE-ish tokens
        assert r["n_tokens"] == 7
        assert r["n_unique_words"] == 4

    def test_quality_score_bounds(self, docs):
        rows = tx.quality_score(docs, "doc_id", "text").collect()
        assert all(0.0 <= r["quality"] <= 1.0 for r in rows)
        by_id = {r["doc_id"]: r for r in rows}
        # English doc with stopwords scores a higher stop_ratio than German one
        assert by_id[1]["stop_ratio"] > by_id[5]["stop_ratio"]

    def test_language_id(self, docs):
        out = {r["doc_id"]: r["pred_lang"] for r in tx.language_id(docs, "doc_id", "text").collect()}
        assert out[1] == "en"
        assert out[5] == "de"

    def test_fingerprint_normalization(self, spark):
        f = spark.createDataFrame(
            [(1, "Hello  World"), (2, "hello world"), (3, "world hello")],
            "id int, text string",
        )
        rows = {r["id"]: r for r in tx.fingerprint(f, "id", "text").collect()}
        assert rows[1]["exact_fp"] == rows[2]["exact_fp"]  # case/whitespace normalized
        assert rows[2]["exact_fp"] != rows[3]["exact_fp"]  # order matters for exact
        assert rows[2]["bag_fp"] == rows[3]["bag_fp"]  # bag fp order-insensitive


class TestMultimodal:
    def test_attach_and_extract(self, spark):
        f = spark.createDataFrame([(1, "hello"), (2, "worlds")], "doc_id bigint, text string")
        feats = {r["doc_id"]: r for r in mm.extract_features(mm.attach_payload(f, "doc_id", "text")).collect()}
        assert feats[1]["n_bytes"] == 5
        assert feats[1]["digest"] == hashlib.md5(b"hello").hexdigest()
        assert feats[1]["width"] == 6 and feats[1]["height"] == 6  # fake decode: n%1920+1
        assert feats[2]["n_bytes"] == 6

    def test_decode_stub_raises_without_fake(self):
        with pytest.raises(NotImplementedError):
            mm.decode_image(b"xx")

    def test_schema_stable(self, spark):
        f = spark.createDataFrame([(1, "abc")], "doc_id bigint, text string")
        out = mm.extract_features(mm.attach_payload(f, "doc_id", "text"))
        assert out.schema == mm.FEATURE_SCHEMA


def _gradient_png(w=64, h=64, noise=None, seed_tag=b""):
    """A REAL byte-accurate PNG: smooth 2-D gradient (strong dHash
    structure), optional deterministic +-2 pixel perturbation — built with
    the stdlib encoder so no binary fixtures live in the repo."""
    from rust_dataframe_spark.operators.png import encode_png

    px = bytearray()
    for y in range(h):
        for x in range(w):
            r, g, b = (4 * x) % 256, (4 * y) % 256, (2 * (x + y)) % 256
            if noise:
                d = hashlib.md5(seed_tag + f"{x},{y}".encode()).digest()
                r = max(0, min(255, r + d[0] % 5 - 2))
                g = max(0, min(255, g + d[1] % 5 - 2))
                b = max(0, min(255, b + d[2] % 5 - 2))
            px += bytes((r, g, b))
    return encode_png(w, h, bytes(px))


class TestPngReal:
    """VERDICT r4 #3: real image decode end-to-end, no PIL — the pure-stdlib
    PNG codec (operators/png.py) wired as decode_image's non-fake path."""

    def test_roundtrip_rgb_and_gray(self):
        from rust_dataframe_spark.operators.png import decode_png, encode_png

        px = bytes((x * 7 + c) % 256 for x in range(30 * 20) for c in range(3))
        w, h, ch, out = decode_png(encode_png(30, 20, px))
        assert (w, h, ch) == (30, 20, 3) and out == px
        gpx = bytes((x * 13) % 256 for x in range(16 * 8))
        w, h, ch, out = decode_png(encode_png(16, 8, gpx, channels=1))
        assert (w, h, ch) == (16, 8, 1) and out == gpx

    def test_all_five_scanline_filters_decode(self):
        """Hand-filter scanlines with each of Sub/Up/Average/Paeth (forward
        direction implemented here in the test) and check the decoder
        inverts them back to the source pixels."""
        import struct
        import zlib

        from rust_dataframe_spark.operators.png import _SIGNATURE, _chunk, _paeth, decode_png

        w, h, ch = 9, 5, 3
        stride = w * ch
        px = bytes((11 * i + 3) % 256 for i in range(h * stride))
        raw = bytearray()
        prev = bytes(stride)
        for row, ftype in zip(range(h), [0, 1, 2, 3, 4]):
            line = px[row * stride : (row + 1) * stride]
            filt = bytearray(line)
            if ftype == 1:
                for i in range(stride - 1, ch - 1, -1):
                    filt[i] = (line[i] - line[i - ch]) & 0xFF
            elif ftype == 2:
                for i in range(stride):
                    filt[i] = (line[i] - prev[i]) & 0xFF
            elif ftype == 3:
                for i in range(stride):
                    a = line[i - ch] if i >= ch else 0
                    filt[i] = (line[i] - ((a + prev[i]) >> 1)) & 0xFF
            elif ftype == 4:
                for i in range(stride):
                    a = line[i - ch] if i >= ch else 0
                    c = prev[i - ch] if i >= ch else 0
                    filt[i] = (line[i] - _paeth(a, prev[i], c)) & 0xFF
            raw += bytes([ftype]) + bytes(filt)
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        data = (
            _SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b"")
        )
        assert decode_png(data) == (w, h, ch, px)

    def test_rejects_corrupt_and_exotic(self):
        from rust_dataframe_spark.operators.png import PngError, decode_png, encode_png

        good = _gradient_png(8, 8)
        bad_crc = bytearray(good)
        bad_crc[40] ^= 0xFF  # flip a byte inside IHDR body -> CRC mismatch
        with pytest.raises(PngError):
            decode_png(bytes(bad_crc))
        with pytest.raises(PngError):
            decode_png(good[:30])
        with pytest.raises(PngError):
            decode_png(b"\xff\xd8\xff\xe0 not a png")
        interlaced = bytearray(encode_png(4, 4, bytes(48)))
        interlaced[28] = 1  # IHDR interlace flag
        import struct
        import zlib as _z

        interlaced[29:33] = struct.pack(
            ">I", _z.crc32(bytes(interlaced[12:29])) & 0xFFFFFFFF
        )
        # round 7: Adam7 is now SUPPORTED — relabeling a sequential stream
        # as interlaced must still fail loud (pass geometry mismatch),
        # never silently misplace pixels
        with pytest.raises(PngError, match="size mismatch"):
            decode_png(bytes(interlaced))

    def test_decode_image_real_path_and_fallback(self):
        png = _gradient_png(40, 24)
        assert mm.decode_image(png) == (40, 24)  # REAL, no fake flag needed
        assert mm.decode_image(png, fake=True) == (40, 24)  # real wins over fake
        # round 6: JPEG magic now routes to the real codec — a malformed
        # jpeg-ish payload raises the precise JpegError (the PngError
        # convention), not NotImplementedError
        from rust_dataframe_spark.operators.jpeg import JpegError

        with pytest.raises(JpegError):
            mm.decode_image(b"\xff\xd8jpeg-ish")  # corrupt JPEG, no fake
        assert mm.decode_image(b"\xff\xd8jpeg-ish", fake=True) == (11, 11)
        with pytest.raises(NotImplementedError):
            mm.decode_image(b"GIF89a-or-unknown")  # non-PNG/JPEG, no fake

    def test_extract_features_on_real_pngs(self, spark):
        pngs = [(1, _gradient_png(64, 64)), (2, _gradient_png(32, 16))]
        df = spark.createDataFrame(pngs, "doc_id bigint, payload binary")
        feats = {
            r["doc_id"]: r
            for r in mm.extract_features(df, fake_decode=False).collect()
        }
        assert (feats[1]["width"], feats[1]["height"]) == (64, 64)
        assert (feats[2]["width"], feats[2]["height"]) == (32, 16)
        assert feats[1]["digest"] == hashlib.md5(pngs[0][1]).hexdigest()

    def test_resize_real_png(self, spark):
        from rust_dataframe_spark.operators.png import decode_png

        df = spark.createDataFrame(
            [(1, _gradient_png(64, 64))], "doc_id bigint, payload binary"
        )
        out = mm.resize_images(df, width=16, height=16, fake_decode=False).collect()
        assert len(out) == 1 and (out[0]["width"], out[0]["height"]) == (16, 16)
        w, h, ch, px = decode_png(bytes(out[0]["payload"]))
        assert (w, h, ch) == (16, 16, 3) and len(px) == 16 * 16 * 3

    def test_real_dhash_near_dup_pipeline(self, spark):
        """q225's banded-candidate + Hamming-verify shape on REAL pixels:
        a gradient, its +-2-noise copy, and an unrelated inverted image —
        the noisy pair must band-collide and verify (Hamming <= 8), the
        unrelated image must not pair with either."""
        from rust_dataframe_spark.operators.png import encode_png

        base = _gradient_png(64, 64)
        noisy = _gradient_png(64, 64, noise=True, seed_tag=b"n1")
        other = encode_png(
            64,
            64,
            bytes(
                (255 - (4 * x) % 256) if c == 0 else ((x * 37 + c) % 256)
                for y in range(64)
                for x in range(64)
                for c in range(3)
            ),
        )
        df = spark.createDataFrame(
            [(1, base), (2, noisy), (3, other)], "doc_id bigint, payload binary"
        )
        h = mm.extract_dhash(df)
        bands = h.select(
            "doc_id", F.posexplode(F.array("d0", "d1", "d2", "d3")).alias("band", "val")
        )
        cand = (
            bands.select(F.col("doc_id").alias("id_a"), "band", "val")
            .join(bands.select(F.col("doc_id").alias("id_b"), "band", "val"), ["band", "val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        a = h.select(F.col("doc_id").alias("id_a"), *[F.col(f"d{b}").alias(f"a{b}") for b in range(4)])
        x = h.select(F.col("doc_id").alias("id_b"), *[F.col(f"d{b}").alias(f"b{b}") for b in range(4)])
        ham = None
        for b in range(4):
            t = F.bit_count(F.col(f"a{b}").cast("long").bitwiseXOR(F.col(f"b{b}").cast("long")))
            ham = t if ham is None else ham + t
        pairs = {
            (r["id_a"], r["id_b"])
            for r in cand.join(a, "id_a").join(x, "id_b")
            .filter(ham <= 8)
            .collect()
        }
        assert (1, 2) in pairs
        assert not any(3 in p for p in pairs)


class TestSkew:
    def test_salted_join_matches_plain(self, spark):
        from rust_dataframe_spark.operators import skew

        # hot key: 900 of 1000 rows share key 7
        big = spark.range(1000).select(
            F.when(F.col("id") < 900, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        small = spark.createDataFrame(
            [(7, "hot"), (950, "cold"), (999, "cold")], "k bigint, name string"
        )
        plain = big.join(small, "k").select("k", "v", "name")
        salted = skew.salted_join(big, small, "k", n_salts=4).select("k", "v", "name")
        assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))

    def test_salted_join_left_keeps_unmatched(self, spark):
        from rust_dataframe_spark.operators import skew

        big = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
        small = spark.createDataFrame([(1, "x")], "k bigint, name string")
        out = skew.salted_join(big, small, "k", n_salts=3, how="left").collect()
        got = {(r["k"], r["name"]) for r in out}
        assert got == {(1, "x"), (2, None)}

    def test_salted_agg_count(self, spark):
        from rust_dataframe_spark.operators import skew

        df = spark.range(500).select((F.col("id") % 3).alias("k"))
        out = {r["k"]: r["count"] for r in skew.salted_agg_count(df, "k", n_salts=4).collect()}
        assert out == {0: 167, 1: 167, 2: 166}

    def test_salted_join_rejects_outer(self, spark):
        import pytest

        from rust_dataframe_spark.operators import skew

        big = spark.createDataFrame([(1, "a")], "k bigint, v string")
        small = spark.createDataFrame([(1, "x")], "k bigint, name string")
        for how in ("right", "full", "outer"):
            with pytest.raises(ValueError, match="inner.*left"):
                skew.salted_join(big, small, "k", how=how)

    def test_salted_agg_count_salt_is_deterministic(self, spark):
        """The (key, salt) shuffle key must be stable across recomputation —
        a retried task re-hashing rows into the same salts (ADVICE r1)."""
        from rust_dataframe_spark.operators import skew

        df = spark.range(300).select((F.col("id") % 5).alias("k"), F.col("id").alias("v"))
        a = {tuple(r) for r in skew.salted_agg_count(df, "k", n_salts=8).collect()}
        b = {tuple(r) for r in skew.salted_agg_count(df, "k", n_salts=8).collect()}
        assert a == b == {(i, 60) for i in range(5)}


class TestMultimodalTransforms:
    def test_resize_updates_dims_and_payload(self, spark):
        f = spark.createDataFrame([(1, "hello"), (2, "worlds")], "doc_id bigint, text string")
        pay = mm.attach_payload(f, "doc_id", "text")
        out = {r["doc_id"]: r for r in mm.resize_images(pay, width=224, height=224).collect()}
        assert len(out) == 2
        assert out[1]["width"] == 224 and out[1]["height"] == 224
        import hashlib
        assert bytes(out[1]["payload"]) == hashlib.md5(b"hello|224x224").digest()

    def test_sample_frames_one_to_n(self, spark):
        f = spark.createDataFrame([(1, "vid-a"), (2, "vid-b")], "doc_id bigint, text string")
        pay = mm.attach_payload(f, "doc_id", "text")
        out = mm.sample_frames(pay, n_frames=3, fps_ms=500).collect()
        assert len(out) == 6  # 2 docs x 3 frames
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append((r["frame_idx"], r["frame_ts_ms"]))
        assert sorted(by_doc[1]) == [(0, 0), (1, 500), (2, 1000)]
        # frames deterministic and distinct per index
        frames = {bytes(r["frame"]) for r in out}
        assert len(frames) == 6


class TestTemporalJoins:
    def test_asof_backward(self, spark):
        from rust_dataframe_spark.operators import temporal as tp

        left = spark.createDataFrame(
            [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 50, "d")],
            "k bigint, ts bigint, v string",
        )
        right = spark.createDataFrame(
            [(1, 5, 100.0), (1, 20, 200.0), (1, 30, 300.0)], "k bigint, ts bigint, p double"
        )
        out = {r["v"]: (r["r_ts"], r["r_p"]) for r in tp.asof_join(left, right, "k", "ts").collect()}
        assert out["a"] == (5, 100.0)    # latest at-or-before 10
        assert out["b"] == (20, 200.0)   # equal ts matches (inclusive)
        assert out["c"] == (5, 100.0)    # equal ts at 5
        assert out["d"] == (None, None)  # key 2 has no right rows

    def test_asof_forward(self, spark):
        from rust_dataframe_spark.operators import temporal as tp

        left = spark.createDataFrame([(1, 10, "a"), (1, 31, "b")], "k bigint, ts bigint, v string")
        right = spark.createDataFrame([(1, 5, 100.0), (1, 30, 300.0)], "k bigint, ts bigint, p double")
        out = {r["v"]: r["r_ts"] for r in tp.asof_join(left, right, "k", "ts", direction="forward").collect()}
        assert out["a"] == 30    # earliest at-or-after 10
        assert out["b"] is None  # nothing after 31

    def test_range_join_inclusive_and_overlap(self, spark):
        from rust_dataframe_spark.operators import temporal as tp

        rows = spark.createDataFrame([(1, 9.5), (2, 20.0), (3, 99.0)], "id bigint, v double")
        bands = spark.createDataFrame(
            [("lo", 0.0, 9.5), ("mid", 9.5, 30.0)], "label string, lo double, hi double"
        )
        out = tp.range_join(rows, "v", bands, "lo", "hi", bucket_width=7.0).collect()
        got = sorted((r["id"], r["label"]) for r in out)
        assert got == [(1, "lo"), (1, "mid"), (2, "mid")]  # 9.5 in both; 99 unmatched


class TestDupClusters:
    def test_chain_collapses_to_one_cluster(self, spark):
        # A~B, B~C (A!~C directly) must land in one cluster via transitivity
        pairs = spark.createDataFrame(
            [(1, 2, 0.9), (2, 3, 0.9), (10, 11, 1.0)], "id_a bigint, id_b bigint, jaccard double"
        )
        out = {r["doc_id"]: r["cluster_id"] for r in dd.dup_clusters(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_converges_on_long_chain(self, spark):
        # path graph 0-1-2-...-9: diameter 9, still one cluster
        pairs = spark.createDataFrame(
            [(i, i + 1, 1.0) for i in range(9)], "id_a bigint, id_b bigint, jaccard double"
        )
        out = {r["doc_id"]: r["cluster_id"] for r in dd.dup_clusters(pairs).collect()}
        assert set(out.values()) == {0} and len(out) == 10


class TestHashSplit:
    def test_split_deterministic_and_complete(self, spark):
        df = spark.range(1000).select(F.col("id").alias("doc_id"))
        out = tx.hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        counts = {r["split"]: r["n"] for r in
                  out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert sum(counts.values()) == 1000
        assert 700 < counts["train"] < 900  # ~80% within binomial slack
        # identical assignment on recompute and after repartition
        again = tx.hash_split(df.repartition(7), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        a = {r["doc_id"]: r["split"] for r in out.collect()}
        b = {r["doc_id"]: r["split"] for r in again.collect()}
        assert a == b

    def test_hash_sample_subset_property(self, spark):
        df = spark.range(2000).select(F.col("id").alias("doc_id"))
        s10 = {r["doc_id"] for r in tx.hash_sample(df, "doc_id", 0.1).collect()}
        s30 = {r["doc_id"] for r in tx.hash_sample(df, "doc_id", 0.3).collect()}
        assert s10 <= s30          # nested samples: smaller fraction is a subset
        assert 100 < len(s10) < 320
        salted = {r["doc_id"] for r in tx.hash_sample(df, "doc_id", 0.1, salt="v2").collect()}
        assert salted != s10       # independent draw under a different salt


class TestRepetition:
    def test_repeated_doc_flags_high(self, spark):
        rows = [
            (1, "spam spam spam spam spam spam"),
            (2, "the quick brown fox jumps high"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r for r in tx.repetition_stats(df, "doc_id", "text").collect()}
        assert out[1]["top_word_frac"] == 1.0
        assert out[1]["top_bigram_frac"] == 1.0
        assert out[2]["top_word_frac"] < 0.5
        assert out[2]["n_words"] == 6

    def test_single_word_doc_null_bigram(self, spark):
        df = spark.createDataFrame([(1, "lonely")], "doc_id bigint, text string")
        r = tx.repetition_stats(df, "doc_id", "text").first()
        assert r["n_words"] == 1 and r["top_word_frac"] == 1.0
        assert r["top_bigram_frac"] is None


class TestDecontamination:
    def test_flags_overlapping_doc(self, spark):
        corpus = spark.createDataFrame(
            [
                (100, "alpha beta gamma delta epsilon zeta eta theta"),
                (101, "totally unrelated words nothing shared here at all"),
            ],
            "doc_id bigint, text string",
        )
        bench = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")], "bench_id bigint, text string"
        )
        out = dd.decontaminate(
            corpus, bench, "doc_id", "text", "bench_id", "text", shingle_n=5, min_shared=2
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert r["doc_id"] == 100 and r["bench_id"] == 1
        assert r["shared_ngrams"] == 2  # two shared 5-gram windows

    def test_below_threshold_not_flagged(self, spark):
        corpus = spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon unrelated tail words")],
            "doc_id bigint, text string",
        )
        bench = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")], "bench_id bigint, text string"
        )
        out = dd.decontaminate(
            corpus, bench, "doc_id", "text", "bench_id", "text", shingle_n=5, min_shared=2
        ).collect()
        assert out == []  # only one shared 5-gram => under min_shared


class TestBloomDecontamination:
    def test_true_contamination_never_missed_and_fp_audited(self, spark):
        corpus = spark.createDataFrame(
            [
                (100, "alpha beta gamma delta epsilon zeta eta theta"),
                (101, "totally unrelated words nothing shared here at all"),
            ],
            "doc_id bigint, text string",
        )
        bench = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")], "bench_id bigint, text string"
        )
        rows = {
            r["doc_id"]: r
            for r in dd.bloom_decontaminate(
                corpus, bench, "doc_id", "text", "text", shingle_n=5, m=4096, k=3
            ).collect()
        }
        # the genuinely contaminated doc is flagged with its true overlap
        assert 100 in rows
        r = rows[100]
        assert r["n_shingles"] == 4  # 8 words -> 4 distinct 5-grams
        assert r["n_true"] == 2  # same two shared windows as exact decontaminate
        assert r["n_flagged"] >= r["n_true"]  # bloom may add fps, never misses
        # the clean doc either doesn't appear or appears as pure false positives
        if 101 in rows:
            assert rows[101]["n_true"] == 0

    def test_tiny_bitmap_still_exact_on_true_hits(self, spark):
        # m=8 forces heavy fp collisions; n_true must stay exact regardless
        corpus = spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon zeta eta theta")],
            "doc_id bigint, text string",
        )
        bench = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")], "bench_id bigint, text string"
        )
        r = dd.bloom_decontaminate(
            corpus, bench, "doc_id", "text", "text", shingle_n=5, m=8, k=3
        ).collect()[0]
        assert r["n_true"] == 2


class TestSortedNeighborhood:
    def test_window_pairs_match_bruteforce(self, spark):
        rows = [(i, f"name{(i * 7) % 10}{i % 3}") for i in range(30)]
        df = spark.createDataFrame(rows, "id int, k string")
        w = 4
        got = {
            (r["id_a"], r["id_b"])
            for r in dd.sorted_neighborhood_pairs(df, "id", "k", window=w).collect()
        }
        ordered = sorted(rows, key=lambda r: (r[1], r[0]))
        expect = {
            (ordered[i][0], ordered[j][0])
            for i in range(len(ordered))
            for j in range(i + 1, min(i + w, len(ordered)))
        }
        assert got == expect

    def test_adjacent_near_misses_pair_where_blocking_would_split(self, spark):
        df = spark.createDataFrame(
            [(1, "jon smith"), (2, "john smith"), (3, "zz zz")], "id int, k string"
        )
        got = {
            (r["id_a"], r["id_b"])
            for r in dd.sorted_neighborhood_pairs(df, "id", "k", window=2).collect()
        }
        assert (2, 1) in got  # "john..." sorts right before "jon..."
        import pytest as _pytest

        with _pytest.raises(ValueError, match="window"):
            dd.sorted_neighborhood_pairs(df, "id", "k", window=1)


class TestPII:
    def test_scan_counts(self, spark):
        df = spark.createDataFrame(
            [(1, "mail a@b.co and c@d.org see https://x.y call +1 (555) 123-4567 now"),
             (2, "clean text only")],
            "doc_id bigint, text string",
        )
        out = {r["doc_id"]: r for r in tx.pii_scan(df, "doc_id", "text").collect()}
        assert out[1]["n_email"] == 2 and out[1]["n_url"] == 1 and out[1]["n_phone"] == 1
        assert out[2]["n_email"] == out[2]["n_url"] == out[2]["n_phone"] == 0

    def test_redact_replaces_spans(self, spark):
        df = spark.createDataFrame([(1, "write a@b.co or visit https://x.y/z")], "doc_id bigint, text string")
        t = tx.pii_redact(df, "doc_id", "text").first()["text"]
        assert "<EMAIL>" in t and "<URL>" in t
        assert "a@b.co" not in t and "https://" not in t


class TestCacheHygiene:
    def test_exact_dedup_rejects_bad_keep(self, spark):
        import pytest

        from rust_dataframe_spark.operators import dedup as dd

        df = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
        with pytest.raises(ValueError, match="keep"):
            dd.exact_dedup(df, "text", "doc_id", keep="first")

    def test_near_dup_persists_are_released(self, spark):
        """near_dup_pairs/srp_near_dup register their persists; release()
        drops them so long-lived sessions don't accumulate cache (ADVICE r1)."""
        from rust_dataframe_spark.operators import cache as opcache
        from rust_dataframe_spark.operators import dedup as dd

        docs = spark.createDataFrame(
            [(i, f"w{i} common words here and more filler text {i}") for i in range(30)]
            + [(100 + i, f"w{i} common words here and more filler text {i}") for i in range(5)],
            "doc_id bigint, text string",
        )
        # id-set based: other tests' localCheckpoint RDDs legitimately stay in
        # the global registry, and the context cleaner may unpersist earlier
        # tests' garbage at any moment, so assert THIS operator's persists
        # (the ids that appear) come and go
        def persisted():
            return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

        before = persisted()
        dd.near_dup_pairs(docs, "doc_id", "text").collect()
        new = persisted() - before
        assert new
        released = opcache.release()
        assert released >= 3  # mem, sig, rep_pairs
        assert not persisted() & new


class TestTraining:
    def test_stratified_sample_rates(self, spark):
        from rust_dataframe_spark.operators import training as tr

        df = spark.range(20000).select(
            F.col("id"), (F.col("id") % 2 == 0).cast("string").alias("s")
        )
        out = tr.stratified_sample(
            df, "id", "s", {"true": 1.0, "false": 0.1}, default_fraction=0.0
        )
        counts = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
        assert counts["true"] == 10000          # rate 1.0 keeps everything
        assert 700 <= counts["false"] <= 1300   # ~10% of 10000

    def test_stratified_sample_deterministic_and_validated(self, spark):
        import pytest

        from rust_dataframe_spark.operators import training as tr

        df = spark.range(1000).select(F.col("id"), F.lit("a").alias("s"))
        a = {r["id"] for r in tr.stratified_sample(df, "id", "s", {"a": 0.3}).collect()}
        b = {r["id"] for r in tr.stratified_sample(df, "id", "s", {"a": 0.3}).collect()}
        assert a == b
        with pytest.raises(ValueError):
            tr.stratified_sample(df, "id", "s", {"a": 1.5})

    def test_global_cumsum_matches_single_node(self, spark):
        from rust_dataframe_spark.operators import training as tr

        df = spark.range(5000).select(F.col("id"), (F.col("id") % 7).alias("v"))
        out = {r["id"]: r["cumsum"] for r in tr.global_cumsum(df, "id", "v").collect()}
        acc, expected = 0, {}
        for i in range(5000):
            acc += i % 7
            expected[i] = acc
        assert out == expected

    def test_pack_sequences_chunks(self, spark):
        from rust_dataframe_spark.operators import training as tr

        rows = [(1, 300), (2, 300), (3, 0), (4, 600), (5, 24)]
        df = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")
        out = {r["doc_id"]: r for r in
               tr.pack_sequences(df, "doc_id", "n_tokens", 512).collect()}
        # doc1: [0,300) -> chunk 0; doc2: [300,600) -> spans 0-1
        assert (out[1]["first_chunk"], out[1]["last_chunk"]) == (0, 0)
        assert (out[2]["first_chunk"], out[2]["last_chunk"]) == (0, 1)
        assert out[2]["n_chunks"] == 2
        # doc3: zero tokens at offset 600 -> degenerate single chunk, no span
        assert out[3]["n_chunks"] == 1 and out[3]["start_off"] == 600
        # doc4: [600,1200) -> chunks 1-2; doc5: [1200,1224) -> chunk 2
        assert (out[4]["first_chunk"], out[4]["last_chunk"]) == (1, 2)
        assert (out[5]["first_chunk"], out[5]["last_chunk"]) == (2, 2)

    def test_semdedup_keeps_senior_drops_near(self, spark):
        from rust_dataframe_spark.operators import training as tr

        rows = [
            (0, [1.0, 0.0]), (1, [0.99, 0.01]),   # near-dup pair, same cell -> drop 1
            (2, [0.0, 1.0]),                        # other cell, survives
            (3, [1.0, 0.05]),                       # near 0 too -> dropped
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
        kept = {r["vec_id"] for r in
                tr.semdedup(df, "vec_id", "embedding", cents, eps=0.95).collect()}
        assert kept == {0, 2}

    def test_repeated_ngram_spans_islands(self, spark):
        from rust_dataframe_spark.operators import dedup as dd

        shared = "alpha beta gamma delta epsilon zeta eta"
        rows = [
            (1, f"{shared} unique1 tail1 words here"),
            (2, f"prefix2 other2 {shared} trailing2"),
            (3, "totally different content with no overlap at all okay"),
            (4, "tiny"),  # shorter than n -> no grams, no crash
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        spans = {(r["doc_id"]): (r["span_start"], r["span_end"], r["n_grams"])
                 for r in dd.repeated_ngram_spans(df, "doc_id", "text", n=5).collect()}
        # 7 shared words -> 3 repeated 5-grams, merged into ONE span of 7 words
        assert spans[1] == (0, 6, 3)
        assert spans[2] == (2, 8, 3)
        assert 3 not in spans and 4 not in spans


class TestKmeans:
    def test_converges_on_separated_clusters(self, spark):
        from rust_dataframe_spark.operators import training as tr

        rows = (
            [(i, [1.0 + 0.01 * i, 0.0]) for i in range(10)]
            + [(100 + i, [0.0, 1.0 + 0.01 * i]) for i in range(10)]
        )
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        cents, assigned = tr.kmeans(df, "vec_id", "embedding", k=2, n_iter=3)
        cells = {r["vec_id"]: r["cell"] for r in assigned.collect()}
        # all x-axis vectors share one cell, all y-axis the other
        assert len({cells[i] for i in range(10)}) == 1
        assert len({cells[100 + i] for i in range(10)}) == 1
        assert cells[0] != cells[100]
        # updated centroids point along the clusters' axes
        by_cid = dict(cents)
        cx = by_cid[cells[0]]
        assert cx[0] > 10 * abs(cx[1])

    def test_kmeans_validates(self, spark):
        import pytest

        from rust_dataframe_spark.operators import training as tr

        df = spark.createDataFrame([(1, [1.0])], "vec_id bigint, embedding array<float>")
        with pytest.raises(ValueError):
            tr.kmeans(df, "vec_id", "embedding", k=0)


class TestStarConnectedComponents:
    def test_equivalent_to_label_prop_on_random_graph(self, spark):
        import random

        from rust_dataframe_spark.operators import dedup as dd

        rng = random.Random(11)
        pairs = [(rng.randrange(150), rng.randrange(150)) for _ in range(120)]
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
        a = sorted(map(tuple, dd.dup_clusters(df, max_iter=100).collect()))
        b = sorted(map(tuple, dd.dup_clusters_star(df).collect()))
        assert a == b

    def test_long_chain_converges_in_log_rounds(self, spark):
        from rust_dataframe_spark.operators import dedup as dd

        chain = [(i, i + 1) for i in range(60)]
        df = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
        out = dd.dup_clusters_star(df, max_iter=10).collect()
        assert len(out) == 61 and all(r["cluster_id"] == 0 for r in out)

    def test_label_prop_refuses_unconverged(self, spark):
        """Silent under-convergence returned WRONG clusters before; now it
        raises and names the star variant as the fix."""
        import pytest

        from rust_dataframe_spark.operators import dedup as dd

        chain = [(i, i + 1) for i in range(30)]
        df = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
        with pytest.raises(RuntimeError, match="star"):
            dd.dup_clusters(df, max_iter=5).collect()

    def test_star_refuses_unconverged(self, spark):
        """One round cannot contract a 60-node chain: the star variant must
        raise like dup_clusters, not turn the partial edge set into labels."""
        import pytest

        from rust_dataframe_spark.operators import dedup as dd

        chain = [(i, i + 1) for i in range(60)]
        df = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
        with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
            dd.dup_clusters_star(df, max_iter=1)


class TestChunkText:
    def test_chunks_overlap_and_tail(self, spark):
        from rust_dataframe_spark.operators import text as tx

        words = " ".join(f"w{i}" for i in range(10))
        df = spark.createDataFrame([(1, words), (2, "short text")], "id int, text string")
        out = sorted(
            tx.chunk_text(df, "id", "text", chunk_tokens=4, overlap=2).collect(),
            key=lambda r: (r["id"], r["chunk_id"]),
        )
        one = [(r["chunk_id"], r["chunk_text"], r["n_tokens"]) for r in out if r["id"] == 1]
        # stride 2: chunks at 0,2,4,6 cover all 10 words; last is full
        assert one == [
            (0, "w0 w1 w2 w3", 4),
            (1, "w2 w3 w4 w5", 4),
            (2, "w4 w5 w6 w7", 4),
            (3, "w6 w7 w8 w9", 4),
        ]
        two = [(r["chunk_id"], r["chunk_text"], r["n_tokens"]) for r in out if r["id"] == 2]
        assert two == [(0, "short text", 2)]  # shorter than chunk -> one chunk

    def test_chunk_validation(self, spark):
        import pytest

        from rust_dataframe_spark.operators import text as tx

        df = spark.createDataFrame([(1, "a")], "id int, text string")
        with pytest.raises(ValueError):
            tx.chunk_text(df, "id", "text", chunk_tokens=4, overlap=4)


class TestLineDedup:
    def test_hot_lines_removed_everywhere(self, spark):
        rows = [
            (1, "boiler\nunique one\nboiler2"),
            (2, "boiler\nunique two\nboiler2"),
            (3, "boiler\nunique three"),
            (4, "only original content here"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {
            r["doc_id"]: r
            for r in tx.line_dedup(df, "doc_id", "text", min_docs=3).collect()
        }
        # "boiler" occurs in 3 docs -> dropped; "boiler2" in 2 -> kept
        assert out[1]["text"] == "unique one\nboiler2"
        assert out[2]["text"] == "unique two\nboiler2"
        assert out[3]["text"] == "unique three"
        assert out[4]["text"] == "only original content here"
        assert out[1]["n_kept"] == 2 and out[1]["n_dropped"] == 1
        assert out[4]["n_dropped"] == 0

    def test_all_boilerplate_doc_survives_empty(self, spark):
        rows = [(i, "spam") for i in range(1, 5)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = tx.line_dedup(df, "doc_id", "text", min_docs=2).collect()
        assert len(out) == 4  # no doc silently dropped
        assert all(r["text"] == "" and r["n_kept"] == 0 for r in out)

    def test_order_preserved(self, spark):
        rows = [(1, "\n".join(f"line{i}" for i in range(20)))]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = tx.line_dedup(df, "doc_id", "text", min_docs=2).collect()[0]
        assert out["text"] == "\n".join(f"line{i}" for i in range(20))


    def test_regex_special_delimiter(self, spark):
        # '.' is a regex metachar — the operator must treat it literally
        rows = [(1, "keep.spam.keep2"), (2, "spam.other"), (3, "spam.third")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r["text"]
               for r in tx.line_dedup(df, "doc_id", "text", delim=".", min_docs=3).collect()}
        assert out[1] == "keep.keep2"
        assert out[2] == "other"


class TestInt8Quant:
    def test_codes_bounded_and_scale_correct(self, spark):
        df = spark.createDataFrame(
            [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
            "vec_id bigint, emb array<float>",
        )
        rows = {r["vec_id"]: r for r in sim.quantize_int8(df, "emb").collect()}
        assert rows[1]["qvec"] == [64, -127, 32]  # round(x / (1.0/127))
        assert abs(rows[1]["qvec_scale"] - 1.0 / 127.0) < 1e-12
        # all-zero vector: scale falls back to 1.0, codes all zero (no NaN)
        assert rows[2]["qvec"] == [0, 0, 0]
        assert rows[2]["qvec_scale"] == 1.0

    def test_quantized_cosine_close_to_exact(self, spark):
        import random

        rnd = random.Random(7)
        rows = [
            (i, [rnd.uniform(-1, 1) for _ in range(64)]) for i in range(10)
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, emb array<float>")
        q = sim.quantize_int8(df, "emb")
        a = q.select(F.col("vec_id").alias("i"), F.col("emb").alias("ea"), F.col("qvec").alias("qa"))
        b = q.select((F.col("vec_id") - 1).alias("i"), F.col("emb").alias("eb"), F.col("qvec").alias("qb"))
        pairs = a.join(b, "i").select(
            sim.cosine(sim.as_double(F.col("ea")), sim.as_double(F.col("eb"))).alias("ce"),
            sim.quantized_cosine(F.col("qa"), F.col("qb")).alias("cq"),
        )
        for r in pairs.collect():
            assert abs(r["ce"] - r["cq"]) < 0.02  # int8 rounding error bound


class TestStripMarkup:
    def test_tags_entities_whitespace(self, spark):
        rows = [
            (1, "<p>hello <b>world</b></p>"),
            (2, "a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;"),
            (3, "  spaced    out\ttext  "),
            (4, "&amp;lt; stays literal"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r["text"] for r in tx.strip_markup(df, "doc_id", "text").collect()}
        assert out[1] == "hello world"
        assert out[2] == 'a & b <tag> "q" \'s\''
        assert out[3] == "spaced out text"
        # &amp; decoded last: "&amp;lt;" -> "&lt;" literal, not "<"
        assert out[4] == "&lt; stays literal"


class TestSurprisalScore:
    def test_fixed_point_values(self, spark):
        # corpus: 4 tokens total; "a" x3 (surp floor(4000/3)=1333), "z" x1 (4000)
        df = spark.createDataFrame(
            [(1, "a a z"), (2, "a")], "doc_id bigint, text string"
        )
        out = {r["doc_id"]: r for r in tx.inverse_frequency_score(df, "doc_id", "text").collect()}
        assert out[1]["n_tokens"] == 3
        assert out[1]["surprisal_milli"] == 1333 + 1333 + 4000
        assert out[2]["surprisal_milli"] == 1333
        assert abs(out[1]["avg_surprisal"] - round(6666 / 3 / 1000.0, 6)) < 1e-9

    def test_rare_scores_higher_than_common(self, spark):
        df = spark.createDataFrame(
            [(1, "common common common common"), (2, "rareword")],
            "doc_id bigint, text string",
        )
        out = {r["doc_id"]: r["avg_surprisal"] for r in tx.inverse_frequency_score(df, "doc_id", "text").collect()}
        assert out[2] > out[1]


class TestIncrementalDedup:
    def test_new_batch_hits_old_corpus_only(self, spark):
        old = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog today"),
                (2, "completely unrelated text about spark shuffles and joins"),
            ],
            "doc_id bigint, text string",
        )
        new = spark.createDataFrame(
            [
                (101, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 1
                (102, "the quick brown fox jumps over the lazy dog"),  # near dup of 1
                (103, "brand new document with entirely fresh content words"),
                (104, "another brand new document sharing nothing with corpus"),  # vs 103: new-internal only
            ],
            "doc_id bigint, text string",
        )
        out = dd.incremental_near_dups(new, old, "doc_id", "text", threshold=0.7)
        pairs = {(r["new_id"], r["old_id"]): r["jaccard"] for r in out.collect()}
        assert pairs[(101, 1)] == 1.0
        assert (102, 1) in pairs and pairs[(102, 1)] >= 0.7
        # new-internal near-dups are NOT reported (separate near_dup_pairs call)
        assert all(old_id in (1, 2) for (_, old_id) in pairs)

    def test_band_index_shape(self, spark):
        df = spark.createDataFrame(
            [(1, "one two three four five six seven")], "doc_id bigint, text string"
        )
        idx = dd.lsh_band_index(df, "doc_id", "text", num_hashes=16, bands=4)
        rows = idx.collect()
        assert len(rows) == 4  # one row per band
        assert {r["band"] for r in rows} == {0, 1, 2, 3}
        assert all(len(r["bh"]) == 32 for r in rows)  # md5 hex


class TestWordpiece:
    def test_greedy_longest_match(self, spark):
        df = spark.createDataFrame([(1, "table value")], "doc_id bigint, text string")
        vocab = ["t", "a", "b", "l", "e", "v", "u", "tab", "le", "val", "ue", "ta"]
        out = {r["word"]: r["pieces"] for r in
               tx.wordpiece_tokenize(df, "doc_id", "text", vocab).collect()}
        assert out["table"] == ["tab", "le"]       # tab beats ta beats t
        assert out["value"] == ["val", "ue"]

    def test_unk_advances_one_char(self, spark):
        df = spark.createDataFrame([(1, "axa")], "doc_id bigint, text string")
        out = tx.wordpiece_tokenize(df, "doc_id", "text", ["a"]).collect()[0]
        assert out["pieces"] == ["a", "[UNK]", "a"]

    def test_positions_preserved(self, spark):
        df = spark.createDataFrame([(1, "b a b")], "doc_id bigint, text string")
        rows = sorted(
            tx.wordpiece_tokenize(df, "doc_id", "text", ["a", "b"]).collect(),
            key=lambda r: r["pos"],
        )
        assert [r["word"] for r in rows] == ["b", "a", "b"]
        assert [r["pos"] for r in rows] == [0, 1, 2]


class TestKnnJoin:
    @pytest.fixture(scope="class")
    def vecs(self, spark):
        rows = [
            (0, [1.0, 0.0], 0),
            (1, [0.9, 0.1], 0),   # closest to 0
            (2, [0.0, 1.0], 1),   # orthogonal to 0
            (3, [1.0, 0.05], 1),  # near 0, different label
        ]
        return spark.createDataFrame(rows, "vec_id bigint, emb array<float>, label int")

    def test_topk_order_and_self_exclusion(self, spark, vecs):
        out = sim.knn_join(vecs.filter(F.col("vec_id") == 0), vecs, "vec_id", "emb", k=3)
        rows = sorted(out.collect(), key=lambda r: r["rank"])
        assert [r["neighbor_id"] for r in rows] == [3, 1, 2]
        assert all(r["query_id"] == 0 and r["neighbor_id"] != 0 for r in rows)

    def test_hard_negatives_exclude_same_label(self, spark, vecs):
        out = sim.knn_join(
            vecs.filter(F.col("vec_id") == 0), vecs, "vec_id", "emb", k=2,
            label_col="label", exclude_same_label=True,
        )
        rows = sorted(out.collect(), key=lambda r: r["rank"])
        # label-0 anchor: only label-1 neighbors qualify, nearest first
        assert [r["neighbor_id"] for r in rows] == [3, 2]
        assert all(r["neighbor_label"] == 1 for r in rows)


class TestMeanPool:
    def test_values_and_counts(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (1, [3.0, 2.0]), (2, [5.0, 5.0])],
            "gid bigint, emb array<float>",
        )
        out = {r["gid"]: r for r in sim.mean_pool(df, "gid", "emb").collect()}
        assert out[1]["pooled"] == [2.0, 1.0] and out[1]["n_vecs"] == 2
        assert out[2]["pooled"] == [5.0, 5.0] and out[2]["n_vecs"] == 1

    def test_normalize_unit_length(self, spark):
        df = spark.createDataFrame([(1, [3.0, 4.0])], "gid bigint, emb array<float>")
        out = sim.mean_pool(df, "gid", "emb", normalize=True).collect()[0]
        assert abs(out["pooled"][0] - 0.6) < 1e-12
        assert abs(out["pooled"][1] - 0.8) < 1e-12

    def test_zero_vector_normalize_no_nan(self, spark):
        df = spark.createDataFrame([(1, [0.0, 0.0])], "gid bigint, emb array<float>")
        out = sim.mean_pool(df, "gid", "emb", normalize=True).collect()[0]
        assert out["pooled"] == [0.0, 0.0]


class TestEmptyInputsRound3:
    """Round-3 operators must degrade to empty results, not crash."""

    def test_line_dedup_empty(self, spark):
        df = spark.createDataFrame([], "doc_id bigint, text string")
        assert tx.line_dedup(df, "doc_id", "text").count() == 0

    def test_knn_join_empty_corpus(self, spark):
        q = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id bigint, emb array<float>")
        empty = spark.createDataFrame([], "vec_id bigint, emb array<float>")
        assert sim.knn_join(q, empty, "vec_id", "emb", k=3).count() == 0

    def test_incremental_dedup_empty_batch(self, spark):
        old = spark.createDataFrame(
            [(1, "some corpus document text here")], "doc_id bigint, text string"
        )
        empty = spark.createDataFrame([], "doc_id bigint, text string")
        assert dd.incremental_near_dups(empty, old, "doc_id", "text").count() == 0

    def test_mean_pool_empty(self, spark):
        df = spark.createDataFrame([], "gid bigint, emb array<float>")
        assert sim.mean_pool(df, "gid", "emb").count() == 0

    def test_wordpiece_empty(self, spark):
        df = spark.createDataFrame([], "doc_id bigint, text string")
        assert tx.wordpiece_tokenize(df, "doc_id", "text", ["a"]).count() == 0


class TestNfcNormalize:
    def test_composes_and_preserves_nulls(self, spark):
        decomposed = "café"  # e + COMBINING ACUTE
        df = spark.createDataFrame(
            [(1, decomposed), (2, None), (3, "plain")], "doc_id bigint, text string"
        )
        out = {r["doc_id"]: r["text"] for r in tx.nfc_normalize(df, "doc_id", "text").collect()}
        assert out[1] == "café" and len(out[1]) == 4
        assert out[2] is None
        assert out[3] == "plain"

    def test_nfkc_compatibility_fold(self, spark):
        df = spark.createDataFrame([(1, "ﬁle")], "doc_id bigint, text string")  # ﬁ ligature
        out = tx.nfc_normalize(df, "doc_id", "text", form="NFKC").collect()[0]["text"]
        assert out == "file"


def test_temperature_mixture_upweights_tail(spark):
    from rust_dataframe_spark.operators.text import temperature_mixture

    rows = [("head", i, 100) for i in range(900)] + [("tail", 10_000 + i, 100) for i in range(100)]
    df = spark.createDataFrame(rows, ["source", "doc_id", "n_chars"])
    kept = temperature_mixture(
        df, "source", "n_chars", alpha=0.5, budget_frac=0.5, key_col="doc_id"
    )
    counts = {r["source"]: r["n"] for r in kept.groupBy("source").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("doc_id").alias("n")
    ).collect()}
    # alpha=0.5 with budget 0.5: tail rate caps at 1.0 (kept whole), head is
    # downsampled to make room -> tail share rises above its natural 10%
    assert counts["tail"] == 100  # rate capped at 1 keeps every tail row
    assert 0.30 * 900 < counts["head"] < 0.60 * 900
    # deterministic: same salt, same rows
    again = temperature_mixture(
        df, "source", "n_chars", alpha=0.5, budget_frac=0.5, key_col="doc_id"
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_temperature_mixture_alpha1_natural(spark):
    from rust_dataframe_spark.operators.text import temperature_mixture

    rows = [("a", i, 10) for i in range(500)] + [("b", 1000 + i, 10) for i in range(500)]
    df = spark.createDataFrame(rows, ["source", "doc_id", "n_chars"])
    kept = temperature_mixture(
        df, "source", "n_chars", alpha=1.0, budget_frac=0.4, key_col="doc_id"
    )
    counts = {r["source"]: r["n"] for r in kept.groupBy("source").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("doc_id").alias("n")
    ).collect()}
    # equal masses at alpha=1 -> equal keep-rate ~= budget_frac for both
    for s in ("a", "b"):
        assert 0.25 * 500 < counts[s] < 0.55 * 500


class TestUnigramLM:
    """Round-5 tokenizer family #3: Unigram-LM Viterbi (q335) and the EM
    E-step forward-backward (q336), both checked against brute-force path
    enumeration here and via recursive-CTE oracles in the catalog."""

    @staticmethod
    def _enum_best(w, vocab, unk_score=-100.0):
        max_len = max(len(p) for p in vocab)
        results = []

        def rec(i, toks, sc):
            if i == len(w):
                results.append((sc, tuple(toks)))
                return
            for ln in range(1, min(max_len, len(w) - i) + 1):
                p = w[i : i + ln]
                if p in vocab:
                    rec(i + ln, toks + [p], sc + vocab[p])
            rec(i + 1, toks + ["[UNK]"], sc + unk_score)

        rec(0, [], 0.0)
        return sorted(results, key=lambda t: (-t[0], t[1]))[0]

    def test_viterbi_matches_enumeration(self, spark):
        import random

        rng = random.Random(42)
        vocab = {c: 1.0 for c in "abcd"}
        for _ in range(10):
            p = "".join(rng.choice("abcd") for _ in range(rng.randint(2, 3)))
            vocab[p] = float(rng.randint(1, 9))
        words = [
            "".join(rng.choice("abcde") for _ in range(rng.randint(1, 8)))
            for _ in range(25)
        ]
        df = spark.createDataFrame(
            [(i, w) for i, w in enumerate(words)], "doc_id bigint, text string"
        )
        got = {
            r["word"]: (r["score"], tuple(r["pieces"]))
            for r in tx.unigram_tokenize(df, "doc_id", "text", vocab).collect()
        }
        for w in set(words):
            assert got[w] == self._enum_best(w, vocab), w

    def test_tie_breaks_on_smallest_piece_sequence(self, spark):
        # 'ab'(2) ties 'a'+'b'(1+1); ('a','b') < ('ab',) lexicographically
        df = spark.createDataFrame([(1, "ab")], "doc_id bigint, text string")
        vocab = {"ab": 2.0, "a": 1.0, "b": 1.0}
        row = tx.unigram_tokenize(df, "doc_id", "text", vocab).collect()[0]
        assert row["pieces"] == ["a", "b"] and row["score"] == 2.0

    def test_unk_fallback(self, spark):
        df = spark.createDataFrame([(1, "axa")], "doc_id bigint, text string")
        row = tx.unigram_tokenize(df, "doc_id", "text", {"a": 1.0}).collect()[0]
        assert row["pieces"] == ["a", "[UNK]", "a"]
        assert row["score"] == 2.0 - 100.0

    def test_expected_counts_match_enumeration(self, spark):
        import random

        rng = random.Random(7)
        weights = {c: float(rng.randint(1, 4)) for c in "abc"}
        for _ in range(6):
            p = "".join(rng.choice("abc") for _ in range(rng.randint(2, 3)))
            weights[p] = float(rng.randint(1, 4))
        words = [
            "".join(rng.choice("abc") for _ in range(rng.randint(1, 7)))
            for _ in range(15)
        ]
        df = spark.createDataFrame(
            [(i, w) for i, w in enumerate(words)], "doc_id bigint, text string"
        )
        out = tx.unigram_expected_counts(df, "doc_id", "text", weights).collect()
        got = {(r["word"], r["piece"]): (r["e_num"], r["z"]) for r in out}

        max_len = max(len(p) for p in weights)
        for w in set(words):
            paths = []

            def rec(i, toks, wt):
                if i == len(w):
                    paths.append((wt, toks))
                    return
                for ln in range(1, min(max_len, len(w) - i) + 1):
                    p = w[i : i + ln]
                    if p in weights:
                        rec(i + ln, toks + [p], wt * int(weights[p]))

            rec(0, [], 1)
            z = sum(p0 for p0, _ in paths)
            acc: dict = {}
            for p0, toks in paths:
                for t in toks:
                    acc[t] = acc.get(t, 0) + p0
            for piece, num in acc.items():
                assert got[(w, piece)] == (num, z), (w, piece)

    def test_unsegmentable_word_omitted(self, spark):
        df = spark.createDataFrame(
            [(1, "ab xy")], "doc_id bigint, text string"
        )
        out = tx.unigram_expected_counts(
            df, "doc_id", "text", {"a": 1.0, "b": 2.0}
        ).collect()
        assert {r["word"] for r in out} == {"ab"}


class TestAhoCorasick:
    def test_counts_match_bruteforce(self, spark):
        import random

        rng = random.Random(3)
        pats = sorted(
            {
                "".join(rng.choice("ab") for _ in range(rng.randint(1, 4)))
                for _ in range(8)
            }
        )
        texts = [
            "".join(rng.choice("abc") for _ in range(rng.randint(0, 80)))
            for _ in range(20)
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
        )
        got = {
            (r["doc_id"], r["pattern"]): r["n_matches"]
            for r in tx.multi_pattern_scan(df, "doc_id", "text", pats).collect()
        }
        for i, t in enumerate(texts):
            for p in pats:
                want = sum(
                    1
                    for k in range(len(t) - len(p) + 1)
                    if t[k : k + len(p)] == p
                )
                assert got.get((i, p), 0) == want, (t, p)

    def test_overlapping_matches_counted(self, spark):
        df = spark.createDataFrame([(1, "aaaa")], "doc_id bigint, text string")
        got = {
            r["pattern"]: r["n_matches"]
            for r in tx.multi_pattern_scan(df, "doc_id", "text", ["a", "aa", "aaa"]).collect()
        }
        assert got == {"a": 4, "aa": 3, "aaa": 2}


class TestMmdDrift:
    def test_identical_populations_give_zero(self, spark):
        from rust_dataframe_spark.operators.stats import mmd2_terms

        rows = [(g, [0.1 * k - 0.2 for k in range(4)]) for g in (0, 1) for _ in range(5)]
        df = spark.createDataFrame(rows, "split int, embedding array<float>")
        out = mmd2_terms(df, "split", "embedding", 4).collect()
        assert len(out) == 4
        assert all(r["mmd_term"] == 0.0 for r in out)
        assert all(r["n_a"] == 5 and r["n_b"] == 5 for r in out)

    def test_matches_numpy_reference(self, spark):
        import numpy as np

        from rust_dataframe_spark.operators.stats import mmd2_terms

        rng = np.random.default_rng(11)
        xa = rng.uniform(-0.5, 0.5, size=(13, 6)).astype(np.float32)
        xb = rng.uniform(-0.3, 0.7, size=(9, 6)).astype(np.float32)
        rows = [(0, list(map(float, v))) for v in xa] + [
            (1, list(map(float, v))) for v in xb
        ]
        df = spark.createDataFrame(rows, "split int, embedding array<float>")
        got = {
            r["i"]: r["mmd_term"]
            for r in mmd2_terms(df, "split", "embedding", 6, quant=512).collect()
        }
        qa = np.floor(xa.astype(np.float64) * 512).astype(np.int64)
        qb = np.floor(xb.astype(np.float64) * 512).astype(np.int64)
        ma = (qa.T @ qa) / len(qa)
        mb = (qb.T @ qb) / len(qb)
        want = ((ma - mb) ** 2).sum(axis=1)
        for i in range(6):
            assert got[i] == pytest.approx(want[i], rel=1e-12)

    def test_rejects_non_power_of_two_quant(self, spark):
        from rust_dataframe_spark.operators.stats import mmd2_terms

        df = spark.createDataFrame([(0, [0.0])], "split int, embedding array<float>")
        with pytest.raises(ValueError, match="power of two"):
            mmd2_terms(df, "split", "embedding", 1, quant=500)


class TestJlProjection:
    def test_matches_numpy_and_preserves_distance_on_average(self, spark):
        import numpy as np

        from rust_dataframe_spark.operators.similarity import jl_project, jl_signs

        rng = np.random.default_rng(3)
        x = rng.normal(size=(20, 32)).astype(np.float32)
        signs = jl_signs(32, 16, seed=11)
        df = spark.createDataFrame(
            [(i, list(map(float, v))) for i, v in enumerate(x)],
            "vec_id int, embedding array<float>",
        )
        got = {
            r["vec_id"]: np.array(r["y"])
            for r in jl_project(df, "embedding", signs, out_col="y").collect()
        }
        s = np.array(signs)
        want = (x.astype(np.float64) @ s.T) / np.sqrt(16.0)
        for i in range(20):
            assert np.allclose(got[i], want[i], rtol=1e-12), i
        # distance preservation: mean pairwise ratio within 25% of 1
        # (E[ratio] = 1 exactly for Rademacher projections)
        ratios = []
        for i in range(20):
            for j in range(i + 1, 20):
                ratios.append(
                    np.sum((want[i] - want[j]) ** 2)
                    / np.sum((x[i].astype(np.float64) - x[j]) ** 2)
                )
        assert 0.75 < float(np.mean(ratios)) < 1.25

    def test_rejects_empty_signs(self, spark):
        from rust_dataframe_spark.operators.similarity import jl_project

        df = spark.createDataFrame([(1, [0.0])], "vec_id int, embedding array<float>")
        with pytest.raises(ValueError, match="non-empty"):
            jl_project(df, "embedding", [])


def test_mmr_select_diversity_beats_pure_relevance(spark):
    from rust_dataframe_spark.operators.similarity import mmr_select

    # query (1,0); a-cluster hugs the query, b is farther but diverse.
    # pure top-3 relevance = a1,a2,a3; at lam=0.3 the redundancy
    # penalty (~1.0 within the cluster) outweighs the relevance gap (0.4)
    # and MMR must swap the diverse point in.
    rows = [
        (1, [1.0, 0.01]), (2, [1.0, 0.02]), (3, [1.0, 0.03]),
        (4, [0.6, 0.8]),
    ]
    cand = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
    out = mmr_select(cand, "vec_id", "embedding", q, k=3, lam=0.3, shortlist=4)
    picks = [r["cid"] for r in out.orderBy("rank").collect()]
    assert picks[0] == 1          # closest to query picked first
    assert 4 in picks             # the diverse point makes the cut
    assert picks != [1, 2, 3]

    import pytest

    with pytest.raises(ValueError):
        mmr_select(cand, "vec_id", "embedding", q, k=5, shortlist=3)


def test_mmr_select_rank1_is_top_relevance_and_k_rows(spark):
    from rust_dataframe_spark.operators.similarity import mmr_select

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.orderBy("vec_id").limit(1)
    cand = emb.join(q.select("vec_id"), "vec_id", "left_anti")
    out = mmr_select(cand, "vec_id", "embedding", q, k=4, shortlist=10).collect()
    assert len(out) == 4
    assert sorted(r["rank"] for r in out) == [1, 2, 3, 4]
    assert len({r["cid"] for r in out}) == 4  # no repeats


def test_multinomial_nb_separable_classes(spark):
    from rust_dataframe_spark.operators.text import multinomial_nb

    train = spark.createDataFrame(
        [
            (1, "spam", "buy cheap pills now"),
            (2, "spam", "cheap pills buy buy"),
            (3, "ham", "meeting notes for tuesday"),
            (4, "ham", "notes about the meeting"),
        ],
        ["id", "y", "t"],
    )
    test = spark.createDataFrame(
        [
            (10, "spam", "cheap pills"),
            (11, "ham", "tuesday meeting"),
            (12, "ham", "unseen words only zzz"),  # OOV -> prior decides? no:
            # both classes have equal priors, smoothing symmetric; tie-break
            # picks the alphabetically-first class deterministically
        ],
        ["id", "y", "t"],
    )
    out = {r["id"]: r["pred"] for r in multinomial_nb(
        train, test, id_col="id", label_col="y", text_col="t").collect()}
    assert out[10] == "spam"
    assert out[11] == "ham"
    assert out[12] == "ham"  # equal scores -> class ASC tie-break

    # scores are finite log-probs
    rows = multinomial_nb(
        train, test, id_col="id", label_col="y", text_col="t").collect()
    assert all(r["score"] < 0 for r in rows)


def test_multinomial_nb_lid_accuracy_on_fixture(spark):
    from pyspark.sql import functions as F

    from rust_dataframe_spark.operators.text import multinomial_nb

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    train = d.filter(F.col("doc_id") % 5 != 0)
    test = d.filter(F.col("doc_id") % 5 == 0)
    out = multinomial_nb(
        train, test, id_col="doc_id", label_col="lang", text_col="text"
    )
    agg = out.agg(
        F.sum(F.when(F.col("label") == F.col("pred"), 1).otherwise(0)).alias("ok"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    # the synthetic corpus is mostly SHARED vocabulary with sparse
    # language-specific tokens, so the majority-class prior dominates and
    # absolute accuracy is modest — pin that NB still beats the 1/5 random
    # baseline clearly (it does via the distinctive-token likelihoods; the
    # separable-classes unit above pins the algorithm itself)
    assert agg["n"] > 0
    assert agg["ok"] / agg["n"] > 0.25


class TestJpegReal:
    """Round 6: real baseline-JPEG decode end-to-end, no PIL — the
    pure-stdlib codec (operators/jpeg.py) wired as decode_image's and
    extract_dhash's non-fake path, closing the last image fake-decode
    surface (progressive/12-bit/CMYK still raise and fall to the fake)."""

    def test_block_constant_gray_roundtrips_exactly(self):
        from rust_dataframe_spark.operators.jpeg import decode_jpeg, encode_jpeg

        w, h = 24, 16
        px = bytes(
            (7 + 17 * (x // 8) + 29 * (y // 8)) % 256
            for y in range(h)
            for x in range(w)
        )
        assert decode_jpeg(encode_jpeg(w, h, px, channels=1)) == (w, h, 1, px)

    def test_gradient_gray_quant1_is_near_lossless(self):
        # non-constant content exercises the AC run/size path; with the
        # all-ones quant table the only error is coefficient rounding,
        # bounded well under 2 gray levels
        from rust_dataframe_spark.operators.jpeg import decode_jpeg, encode_jpeg

        w, h = 40, 24
        px = bytes((3 * x + 5 * y) % 256 for y in range(h) for x in range(w))
        _, _, _, out = decode_jpeg(encode_jpeg(w, h, px, channels=1))
        assert max(abs(a - b) for a, b in zip(out, px)) <= 2

    def test_rgb_444_and_420_roundtrip_smooth(self):
        from rust_dataframe_spark.operators.jpeg import decode_jpeg, encode_jpeg

        w, h = 24, 16
        px = bytes(
            min(255, 40 + 3 * x + 2 * y + 20 * c)
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        ww, hh, ch, out = decode_jpeg(encode_jpeg(w, h, px, channels=3))
        assert (ww, hh, ch) == (w, h, 3)
        assert max(abs(a - b) for a, b in zip(out, px)) <= 2
        ww, hh, ch, out = decode_jpeg(
            encode_jpeg(w, h, px, channels=3, subsample=True)
        )
        assert (ww, hh, ch) == (w, h, 3)
        # 4:2:0 adds chroma averaging error on smooth content, still tight
        assert max(abs(a - b) for a, b in zip(out, px)) <= 4

    def test_odd_dims_pad_and_coarse_quant(self):
        from rust_dataframe_spark.operators.jpeg import decode_jpeg, encode_jpeg

        px = bytes((x + y) % 256 for y in range(13) for x in range(11))
        ww, hh, _ch, out = decode_jpeg(encode_jpeg(11, 13, px, quant=8))
        assert (ww, hh) == (11, 13)
        assert max(abs(a - b) for a, b in zip(out, px)) <= 8

    def test_restart_intervals_roundtrip_and_validate_sequence(self):
        """DRI/RSTn path (round-6 ADVICE): restart markers must cycle
        RST0..RST7 in order; a round-trip through intervals that force
        multiple marker cycles stays near-lossless, and a tampered marker
        index raises JpegError instead of silently resyncing to the wrong
        interval."""
        import pytest as _pytest

        from rust_dataframe_spark.operators.jpeg import (
            JpegError,
            decode_jpeg,
            encode_jpeg,
        )

        w, h = 40, 24  # 5x3 = 15 MCUs gray
        px = bytes((3 * x + 5 * y) % 256 for y in range(h) for x in range(w))
        for interval in (1, 2, 7):  # interval 1 -> 14 markers, wraps mod 8
            _, _, _, out = decode_jpeg(
                encode_jpeg(w, h, px, channels=1, restart_interval=interval)
            )
            assert max(abs(a - b) for a, b in zip(out, px)) <= 2
        # 4:2:0 color with restarts: DC predictor reset per component
        px3 = bytes(
            min(255, 40 + 3 * x + 2 * y + 20 * c)
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        _, _, _, out3 = decode_jpeg(
            encode_jpeg(w, h, px3, channels=3, subsample=True, restart_interval=3)
        )
        assert max(abs(a - b) for a, b in zip(out3, px3)) <= 4
        # tamper the first RST0 into RST5: out-of-sequence must fail loud
        enc = bytearray(encode_jpeg(w, h, px, channels=1, restart_interval=2))
        for i in range(len(enc) - 1):
            if enc[i] == 0xFF and enc[i + 1] == 0xD0:
                enc[i + 1] = 0xD5
                break
        with _pytest.raises(JpegError, match="out of sequence"):
            decode_jpeg(bytes(enc))

    def test_rejects_corrupt_and_exotic(self):
        import pytest as _pytest

        from rust_dataframe_spark.operators.jpeg import (
            JpegError,
            decode_jpeg,
            encode_jpeg,
        )

        with _pytest.raises(JpegError):
            decode_jpeg(b"\x89PNG\r\n\x1a\n not a jpeg")
        good = encode_jpeg(8, 8, bytes(64))
        with _pytest.raises(JpegError):
            decode_jpeg(good[:20])  # truncated mid-segment
        progressive = bytearray(good)
        sof_at = progressive.find(b"\xff\xc0")
        progressive[sof_at + 1] = 0xC2  # flip SOF0 -> SOF2
        with _pytest.raises(JpegError):
            decode_jpeg(bytes(progressive))

    def test_progressive_block_constant_roundtrips_exactly(self):
        """SOF2 (round 7): the DC Al=1 -> refinement ladder restores full
        DC precision, so block-constant gray is pixel-exact — the q395
        oracle's closed form."""
        from rust_dataframe_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg_progressive,
        )

        w, h = 24, 16
        px = bytes(
            (7 + 17 * (x // 8) + 29 * (y // 8)) % 256
            for y in range(h)
            for x in range(w)
        )
        assert decode_jpeg(encode_jpeg_progressive(w, h, px, channels=1)) == (
            w, h, 1, px,
        )

    def test_progressive_equals_baseline_decode_on_every_path(self):
        """The multi-scan coefficient accumulation must land on the SAME
        quantized coefficients as the single-scan baseline encoder, so the
        decoded pixels are bit-identical between the two containers —
        checked over gradient, random-coarse-quant (exercises EOB runs,
        ZRL, AC refinement correction bits), 4:4:4 and 4:2:0 color, and
        odd non-MCU-aligned dims."""
        import random as _random

        from rust_dataframe_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_progressive,
        )

        w, h = 40, 24
        grad = bytes((3 * x + 5 * y) % 256 for y in range(h) for x in range(w))
        rng = _random.Random(1)
        noise = bytes(rng.randrange(256) for _ in range(w * h))
        color = bytes(
            min(255, 40 + 3 * x + 2 * y + 20 * c)
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        odd = bytes((x + y) % 256 for y in range(13) for x in range(11))
        cases = [
            (w, h, grad, dict(channels=1)),
            (w, h, noise, dict(channels=1, quant=4)),
            (w, h, color, dict(channels=3)),
            (w, h, color, dict(channels=3, subsample=True)),
            (11, 13, odd, dict(quant=8)),
        ]
        for ww, hh, px, kw in cases:
            prog = decode_jpeg(encode_jpeg_progressive(ww, hh, px, **kw))
            base = decode_jpeg(encode_jpeg(ww, hh, px, **kw))
            assert prog == base, kw

    def test_progressive_rejects_malformed_scan_headers(self):
        import pytest as _pytest

        from rust_dataframe_spark.operators.jpeg import (
            JpegError,
            decode_jpeg,
            encode_jpeg,
        )

        # a baseline stream relabeled SOF2 has an illegal progressive scan
        # header (Ss=0, Se=63) — must fail loud, not decode garbage
        relabeled = bytearray(encode_jpeg(8, 8, bytes(64)))
        relabeled[relabeled.find(b"\xff\xc0") + 1] = 0xC2
        with _pytest.raises(JpegError, match="Se=0"):
            decode_jpeg(bytes(relabeled))

    def test_decode_image_dispatches_progressive(self):
        """multimodal.decode_image's JPEG branch now covers SOF2 — the
        fake-decode fallback surface shrinks to arithmetic/12-bit/
        hierarchical JPEG + video/mp3."""
        from rust_dataframe_spark.operators import multimodal as mm
        from rust_dataframe_spark.operators.jpeg import encode_jpeg_progressive

        px = bytes((x + y) % 256 for y in range(16) for x in range(24))
        assert mm.decode_image(encode_jpeg_progressive(24, 16, px)) == (24, 16)

    def test_decode_image_and_dhash_dispatch_jpeg(self, spark):
        """Real-bytes dHash over JPEG payloads through the full Spark
        pipeline: two visually-identical JPEGs share all four bands; a
        very different image does not share all of them."""
        from pyspark.sql.types import (
            BinaryType,
            LongType,
            StructField,
            StructType,
        )

        from rust_dataframe_spark.operators.jpeg import encode_jpeg
        from rust_dataframe_spark.operators.multimodal import (
            decode_image,
            extract_dhash,
        )

        w, h = 32, 32
        smooth = bytes(
            min(255, 30 + 4 * x + 2 * y) for y in range(h) for x in range(w)
        )
        # same image, one gray level brighter: dHash (a difference hash)
        # is invariant to the constant offset
        smooth2 = bytes(min(255, v + 1) for v in smooth)
        inverted = bytes(255 - v for v in smooth)
        pays = [
            encode_jpeg(w, h, smooth),
            encode_jpeg(w, h, smooth2),
            encode_jpeg(w, h, inverted),
        ]
        assert decode_image(pays[0]) == (w, h)
        df = spark.createDataFrame(
            [(i, p) for i, p in enumerate(pays)],
            StructType(
                [
                    StructField("doc_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
        rows = {r["doc_id"]: r for r in extract_dhash(df).collect()}
        same = sum(rows[0][f"d{b}"] == rows[1][f"d{b}"] for b in range(4))
        diff = sum(rows[0][f"d{b}"] == rows[2][f"d{b}"] for b in range(4))
        assert same == 4
        assert diff < 4


class TestUnigramMStep:
    """Round 6: EM M-step renormalization + monotonicity vs a pure-python
    independent EM replay."""

    def _fixture(self, spark):
        rows = [(1, "ab ab ba"), (2, "ab bb"), (3, "ba ba ab a")]
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_m_step_matches_pure_python_em(self, spark):
        import math
        from collections import Counter

        from rust_dataframe_spark.operators.text import (
            unigram_expected_counts,
            unigram_m_step,
        )

        weights = {"a": 2.0, "b": 3.0, "ab": 5.0, "ba": 4.0, "bb": 7.0}
        df = self._fixture(spark)
        exp = unigram_expected_counts(df, "doc_id", "text", weights)
        out = {r["piece"]: r for r in unigram_m_step(exp).collect()}

        # independent replay: enumerate segmentations per word
        def paths(w):
            if not w:
                return [((), 1.0)]
            res = []
            for ln in (1, 2):
                if ln > len(w):
                    break
                p = w[:ln]
                if p in weights:
                    for toks, wt in paths(w[ln:]):
                        res.append(((p,) + toks, weights[p] * wt))
            return res

        freqs = Counter(
            w for _, t in [(1, "ab ab ba"), (2, "ab bb"), (3, "ba ba ab a")]
            for w in t.split()
        )
        totals = Counter()
        for w, f in freqs.items():
            ps = paths(w)
            z = sum(wt for _, wt in ps)
            for toks, wt in ps:
                for p in toks:
                    totals[p] += f * wt / z
        gt = sum(totals.values())
        for p, te in totals.items():
            assert out[p]["total_expected"] == math.floor(te * 1e6) / 1e6
            assert out[p]["new_prob"] == math.floor(te / gt * 1e6) / 1e6

        # EM monotonicity: corpus log-likelihood under the renormalized
        # probs must not decrease vs the old normalized weights
        def loglik(probs):
            ll = 0.0
            for w, f in freqs.items():
                z = 0.0
                for toks, _ in paths(w):
                    z += math.prod(probs[p] for p in toks)
                ll += f * math.log(z)
            return ll

        wsum = sum(weights.values())
        old_probs = {p: v / wsum for p, v in weights.items()}
        new_probs = {p: totals[p] / gt for p in weights if p in totals}
        # pieces with zero expectation drop out; fixture uses all pieces
        assert set(new_probs) == set(weights)
        assert loglik(new_probs) >= loglik(old_probs) - 1e-12


class TestJpegRobustness:
    """Round-6 review fixes: malformed segments raise JpegError (never
    IndexError/struct.error), fill bytes are spec-legal, JPEG resize is
    real."""

    def test_short_segment_bodies_raise_jpeg_error(self):
        import pytest as _pytest

        from rust_dataframe_spark.operators.jpeg import JpegError, decode_jpeg

        for blob in (
            b"\xff\xd8\xff\xc0\x00\x02\xff\xd9",        # SOF with empty body
            b"\xff\xd8\xff\xc0\x00\x04\x08\x00\xff\xd9",  # SOF body too short
            b"\xff\xd8\xff\xdd\x00\x03\x01\xff\xd9",    # short DRI
            b"\xff\xd8\xff\xda\x00\x02\xff\xd9",        # SOS with empty body
        ):
            with _pytest.raises(JpegError):
                decode_jpeg(blob)

    def test_fill_bytes_before_markers_decode_fine(self):
        from rust_dataframe_spark.operators.jpeg import decode_jpeg, encode_jpeg

        px = bytes((x + y) % 256 for y in range(8) for x in range(8))
        good = encode_jpeg(8, 8, px)
        # inject T.81 B.1.1.2 fill bytes before the SOF marker
        sof = good.find(b"\xff\xc0")
        padded = good[:sof] + b"\xff\xff\xff" + good[sof:]
        assert decode_jpeg(padded) == decode_jpeg(good)

    def test_resize_real_jpeg_payload(self, spark):
        from pyspark.sql.types import BinaryType, LongType, StructField, StructType

        from rust_dataframe_spark.operators.jpeg import decode_jpeg, encode_jpeg
        from rust_dataframe_spark.operators.multimodal import resize_images

        w, h = 16, 16
        px = bytes(min(255, 30 + 5 * x + 3 * y) for y in range(h) for x in range(w))
        df = spark.createDataFrame(
            [(1, encode_jpeg(w, h, px))],
            StructType([StructField("doc_id", LongType()), StructField("payload", BinaryType())]),
        )
        out = resize_images(df, width=8, height=8, fake_decode=False).collect()[0]
        ww, hh, ch, rp = decode_jpeg(bytes(out["payload"]))
        assert (ww, hh, ch) == (8, 8, 1)
        assert (out["width"], out["height"]) == (8, 8)
        # nearest-neighbor of a smooth ramp: decoded pixels near source grid
        src = px[(1 * w + 1)]  # sampled top-left region value
        assert abs(rp[0] - px[0]) <= 6


class TestUnigramEmLoop:
    """Round 7: the composed quantized EM loop (operators/text.unigram_em)
    — likelihood monotonicity, pruning, early stop, and guards."""

    def test_ll_ledger_monotone_on_corpus(self, spark, sf_dir):
        """EM theorem certificate: ll_in is non-decreasing across rounds
        (quantization slack is O(1/quant_scale); at scale 32 on this
        corpus the increase is strict for the first rounds)."""
        from rust_dataframe_spark import catalog  # noqa: F401 (import order)
        from rust_dataframe_spark.catalog_llm import _Q336_WEIGHTS
        from rust_dataframe_spark.operators import text as tx

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = tx.unigram_em(d, "doc_id", "text", _Q336_WEIGHTS, 3, quant_scale=32)
        lls = [
            ll
            for _r, ll in sorted(
                {(row["round"], row["ll_in"]) for row in out.collect()}
            )
        ]
        assert len(lls) == 3
        assert all(b >= a for a, b in zip(lls, lls[1:]))
        assert lls[1] > lls[0]  # the first M-step is a real improvement

    def test_quantization_prunes_and_matches_mstep(self, spark, sf_dir):
        """Round 1 rows must agree exactly with a standalone E+M replay,
        and wt_next must be the documented floor(p*scale + 0.5) grid."""
        import math

        from rust_dataframe_spark import catalog  # noqa: F401 (import order)
        from rust_dataframe_spark.catalog_llm import _Q336_WEIGHTS
        from rust_dataframe_spark.operators import text as tx

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = tx.unigram_em(d, "doc_id", "text", _Q336_WEIGHTS, 1, quant_scale=32)
        got = {r["piece"]: r for r in out.collect()}
        exp = tx.unigram_m_step(
            tx.unigram_expected_counts(d, "doc_id", "text", _Q336_WEIGHTS)
        ).collect()
        assert len(got) == len(exp)
        for r in exp:
            g = got[r["piece"]]
            assert g["total_expected"] == r["total_expected"]
            assert g["new_prob"] == r["new_prob"]
            assert g["wt_next"] == int(math.floor(r["new_prob"] * 32 + 0.5))
        assert any(g["wt_next"] == 0 for g in got.values())  # real pruning
        assert any(g["wt_next"] > 0 for g in got.values())

    def test_early_stop_on_tol(self, spark):
        """A corpus the vocabulary segments uniquely converges after one
        update — round 3 never runs when tol is satisfied."""
        from rust_dataframe_spark.operators import text as tx

        d = spark.createDataFrame(
            [(1, "ab ab ab"), (2, "ab cd")], "doc_id bigint, text string"
        )
        out = tx.unigram_em(
            d, "doc_id", "text", {"ab": 2.0, "cd": 3.0}, 5, quant_scale=32,
            tol=1e-9,
        )
        rows = out.collect()
        assert rows[0]["n_rounds"] < 5
        assert max(r["round"] for r in rows) == rows[0]["n_rounds"]

    def test_guards(self, spark):
        import pytest as _pytest

        from rust_dataframe_spark.operators import text as tx

        d = spark.createDataFrame([(1, "ab")], "doc_id bigint, text string")
        with _pytest.raises(ValueError, match="iters"):
            tx.unigram_em(d, "doc_id", "text", {"ab": 1.0}, 0)
        with _pytest.raises(ValueError, match="positive integers"):
            tx.unigram_corpus_ll(d, "doc_id", "text", {"ab": 1.5})


class TestAviReal:
    """Round-7 video container: pure-stdlib RIFF/AVI parse (operators/
    avi.py) with MJPEG frames decoded by the repo's own JPEG codec and
    uncompressed BI_RGB DIB frames — sample_frames' second real video
    path behind q397, with O(sampled) decode (frames are independent
    chunks, unlike GIF's sequential LZW)."""

    @staticmethod
    def _mjpeg_avi(w=16, h=8, nframes=5, usec=40_000):
        from rust_dataframe_spark.operators.avi import encode_avi
        from rust_dataframe_spark.operators.jpeg import encode_jpeg

        planes = [
            bytes(
                (7 + 17 * (x // 8) + 31 * f) % 256
                for y in range(h)
                for x in range(w)
            )
            for f in range(nframes)
        ]
        frames = [encode_jpeg(w, h, p, channels=1) for p in planes]
        return encode_avi(w, h, frames, usec_per_frame=usec), planes

    def test_mjpeg_round_trip_block_constant_exact(self):
        from rust_dataframe_spark.operators.avi import (
            decode_avi,
            decode_avi_frame,
        )

        avi, planes = self._mjpeg_avi()
        w, h, usec, comp, raw = decode_avi(avi)
        assert (w, h, usec, comp, len(raw)) == (16, 8, 40_000, "MJPG", 5)
        for f, plane in enumerate(planes):
            ch, out = decode_avi_frame(comp, w, h, raw[f])
            assert ch == 1 and out == plane

    def test_dib_round_trip_exercises_row_padding(self):
        """Odd width -> 4-byte row padding + bottom-up BGR flip both
        round-trip exactly."""
        from rust_dataframe_spark.operators.avi import (
            decode_avi,
            decode_avi_frame,
            encode_avi,
        )

        w, h = 5, 3
        rgb = bytes(
            (x * 40 + y * 10 + c) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        avi = encode_avi(w, h, [rgb, rgb], usec_per_frame=33_367,
                         compression=b"DIB ")
        W, H, usec, comp, raw = decode_avi(avi)
        assert (W, H, usec, comp) == (5, 3, 33_367, "DIB")
        ch, out = decode_avi_frame(comp, W, H, raw[1])
        assert ch == 3 and out == rgb

    def test_fail_loud_truncation_desync_and_exotic_codec(self):
        import struct

        import pytest

        from rust_dataframe_spark.operators.avi import AviError, decode_avi

        avi, _ = self._mjpeg_avi()
        with pytest.raises(AviError):
            decode_avi(avi[: len(avi) // 2])
        with pytest.raises(AviError):
            decode_avi(b"RIFF\x04\x00\x00\x00WAVE")
        # idx1/movi desync: relabel one index entry to a phantom stream
        bad = bytearray(avi)
        i = bytes(bad).rfind(b"00dc")
        bad[i:i + 2] = b"01"
        with pytest.raises(AviError, match="desynchronized"):
            decode_avi(bytes(bad))
        # exotic compression fourcc -> documented NotImplementedError gate
        bad2 = bytearray(avi)
        j = bytes(bad2).find(b"strf")
        struct.pack_into("<I", bad2, j + 8 + 16,
                         struct.unpack("<I", b"H264")[0])
        with pytest.raises(NotImplementedError, match="pyav/ffmpeg"):
            decode_avi(bytes(bad2))

    def test_idx1_tolerates_nonframe_entries_for_video_stream(self):
        """ADVICE r7: a valid container may index non-frame chunk kinds
        (e.g. '00pc' palette change) for the video stream — those must not
        count toward the frame total and trip the desync check."""
        import struct

        from rust_dataframe_spark.operators.avi import decode_avi

        avi, planes = self._mjpeg_avi()
        # splice one '00pc' entry into idx1 (16-byte entries); grow sizes
        i = avi.rfind(b"idx1")
        old_sz = struct.unpack_from("<I", avi, i + 4)[0]
        entry = b"00pc" + struct.pack("<III", 0, 4, 0)
        patched = bytearray(
            avi[: i + 8] + entry + avi[i + 8 :]
        )
        struct.pack_into("<I", patched, i + 4, old_sz + 16)
        struct.pack_into(
            "<I", patched, 4, struct.unpack_from("<I", patched, 4)[0] + 16
        )
        w, h, usec, comp, raw = decode_avi(bytes(patched))
        assert len(raw) == len(planes)

    def test_strh_is_full_56_byte_avistreamheader(self):
        """ADVICE r7: emit the canonical 56-byte AVISTREAMHEADER (with
        rcFrame), not a 52-byte payload with a stray trailing dword."""
        import struct

        avi, _ = self._mjpeg_avi(w=16, h=8)
        i = avi.find(b"strh")
        sz = struct.unpack_from("<I", avi, i + 4)[0]
        assert sz == 56
        # rcFrame = (0, 0, width, height) at offset 48 of the payload
        assert struct.unpack_from("<4h", avi, i + 8 + 48) == (0, 0, 16, 8)

    def test_sample_frames_real_path_decodes_only_sampled(self, spark):
        """sample_frames over an AVI payload: correct even sampling,
        container timing, and the O(sampled) property — a frame NOT
        sampled can be a corrupt JPEG without affecting the run."""
        from rust_dataframe_spark.operators import multimodal as mm
        from rust_dataframe_spark.operators.avi import encode_avi
        from rust_dataframe_spark.operators.jpeg import encode_jpeg

        w, h = 8, 8
        planes = [
            bytes((11 + 31 * f) % 256 for _ in range(w * h))
            for f in range(6)
        ]
        frames = [encode_jpeg(w, h, p, channels=1) for p in planes]
        frames[1] = b"\xff\xd8corrupt-not-sampled"  # src indices are 0,2,4
        avi = encode_avi(w, h, frames, usec_per_frame=50_000)
        df = spark.createDataFrame([(1, bytearray(avi))],
                                   "doc_id bigint, payload binary")
        rows = (
            mm.sample_frames(df, n_frames=3, fake_decode=False)
            .orderBy("frame_idx")
            .collect()
        )
        assert [r["frame_idx"] for r in rows] == [0, 1, 2]
        assert [r["frame_ts_ms"] for r in rows] == [0, 100, 200]
        assert [bytes(r["frame"]) for r in rows] == [
            planes[0], planes[2], planes[4]
        ]


class TestWaveExt:
    """Round-7 extended RIFF/WAVE matrix (operators/wave_ext.py): G.711
    u-law/A-law expansion pinned byte-for-byte against the stdlib
    audioop ITU tables, 24/32-bit + float32 PCM, EXTENSIBLE SubFormat
    dispatch, and the decode_wav front-door integration behind q399."""

    def test_g711_tables_match_itu_audioop(self):
        import struct
        import warnings

        from rust_dataframe_spark.operators.wave_ext import (
            ALAW_TO_LIN,
            ULAW_TO_LIN,
        )

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", DeprecationWarning)
            import audioop
        raw = bytes(range(256))
        assert list(ULAW_TO_LIN) == list(
            struct.unpack("<256h", audioop.ulaw2lin(raw, 2))
        )
        assert list(ALAW_TO_LIN) == list(
            struct.unpack("<256h", audioop.alaw2lin(raw, 2))
        )

    def test_pcm_wide_and_float_round_trip(self):
        import struct

        from rust_dataframe_spark.operators.multimodal import decode_wav
        from rust_dataframe_spark.operators.wave_ext import encode_wav_raw

        vals = [(-(2 ** 23)) + i * 77_777 for i in range(50)]
        frames = b"".join(v.to_bytes(3, "little", signed=True) for v in vals)
        sr, ch, sw, s = decode_wav(encode_wav_raw(1, 24, 16_000, 1, frames))
        assert (sr, ch, sw) == (16_000, 1, 3) and s == vals
        v32 = [(-(2 ** 31)) + i * 9_999_991 for i in range(40)]
        _, _, sw32, s32 = decode_wav(
            encode_wav_raw(1, 32, 8_000, 1, struct.pack("<40i", *v32))
        )
        assert sw32 == 4 and s32 == v32
        fl = [0.5, -0.5, 1.0, 1.0, -1.0, 0.0]
        sr4, ch4, sw4, s4 = decode_wav(
            encode_wav_raw(3, 32, 44_100, 2, struct.pack("<6f", *fl))
        )
        # float32 rescales to the 16-bit linear carrier (sw=2) BEFORE the
        # stereo mono-mix, so the scale invariant 2^(8*sw-1) holds and
        # downstream energy math (segment_audio) sees real magnitudes
        assert (sr4, ch4, sw4) == (44_100, 2, 2)
        assert s4 == [0, 32767, -16384]
        # raw low-level API still returns native floats
        from rust_dataframe_spark.operators.wave_ext import decode_wav_ext

        assert decode_wav_ext(
            encode_wav_raw(3, 32, 8000, 1, struct.pack("<2f", 0.25, -1.0))
        )[3] == [0.25, -1.0]

    def test_extensible_subformat_and_gates(self):
        import struct

        import pytest

        from rust_dataframe_spark.operators.wave_ext import (
            WaveExtError,
            decode_wav_ext,
            encode_wav_raw,
        )

        raw = bytes((7 * i + 13) % 256 for i in range(300))
        ext = struct.pack(
            "<HHIIHHHHIH", 0xFFFE, 1, 8000, 8000, 1, 8, 22, 8, 0, 7
        ) + b"\x00" * 14

        def chunk(ckid, p):
            return ckid + struct.pack("<I", len(p)) + p + (
                b"\x00" if len(p) % 2 else b""
            )

        body = b"WAVE" + chunk(b"fmt ", ext) + chunk(b"data", raw)
        wav = b"RIFF" + struct.pack("<I", len(body)) + body
        assert decode_wav_ext(wav)[2] == "ulaw"
        with pytest.raises(WaveExtError):
            decode_wav_ext(b"RIFF\x04\x00\x00\x00AVI ")
        with pytest.raises(WaveExtError):  # truncated data chunk
            decode_wav_ext(wav[: len(wav) - 40])
        with pytest.raises(NotImplementedError, match="ffmpeg"):
            decode_wav_ext(encode_wav_raw(0x55, 0, 8000, 1, raw))  # MP3-in-WAV


class TestImaAdpcm:
    """IMA/DVI ADPCM (round 7, wave_ext tag 0x11): state-machine decode
    with predictor/index clamps, multi-block containers, and the
    decode_wav front door behind q400."""

    def test_clamps_saturate_not_wrap(self):
        from rust_dataframe_spark.operators.wave_ext import ima_adpcm_step

        # max step, repeated +max nibble (7): predictor saturates at 32767
        pred, idx = 30_000, 88
        for _ in range(5):
            pred, idx = ima_adpcm_step(pred, idx, 7)
        assert pred == 32_767 and idx == 88  # index clamped at 88 too
        # and the mirror: nibble 15 (sign bit + 7) drives to -32768
        pred, idx = -30_000, 88
        for _ in range(5):
            pred, idx = ima_adpcm_step(pred, idx, 15)
        assert pred == -32_768
        # index floor: small nibbles at index 0 stay at 0
        _, idx0 = ima_adpcm_step(0, 0, 1)
        assert idx0 == 0

    def test_container_decode_matches_step_replay(self):
        import struct

        from rust_dataframe_spark.operators.multimodal import decode_wav
        from rust_dataframe_spark.operators.wave_ext import (
            decode_wav_ext,
            encode_wav_raw,
            ima_adpcm_step,
        )

        d, m = 5, 65
        p0, i0 = ((d * 997) % 4001) - 2000, d % 89
        data = bytes((d * 11 + j * 17) % 256 for j in range(m))
        block = struct.pack("<hBB", p0, i0, 0) + data
        wav = encode_wav_raw(0x11, 4, 8000, 1, block + block,
                             block_align=len(block))
        sr, ch, name, s = decode_wav_ext(wav)
        assert (sr, ch, name) == (8000, 1, "ima_adpcm")
        pred, idx, exp = p0, i0, [p0]
        for b in data:
            for nib in (b & 0x0F, b >> 4):  # low nibble first
                pred, idx = ima_adpcm_step(pred, idx, nib)
                exp.append(pred)
        assert s == exp + exp  # two blocks, state resets per block
        _, _, sw, s2 = decode_wav(wav)  # front door, 16-bit carrier
        assert sw == 2 and s2 == exp + exp

    def test_bad_block_geometry_and_index_fail_loud(self):
        import struct

        import pytest

        from rust_dataframe_spark.operators.wave_ext import (
            WaveExtError,
            decode_wav_ext,
            encode_wav_raw,
        )

        block = struct.pack("<hBB", 0, 99, 0) + b"\x00" * 8  # index 99 > 88
        with pytest.raises(WaveExtError, match="> 88"):
            decode_wav_ext(encode_wav_raw(0x11, 4, 8000, 1, block,
                                          block_align=len(block)))
        with pytest.raises(WaveExtError, match="block_align"):
            decode_wav_ext(encode_wav_raw(0x11, 4, 8000, 1, b"\x00\x00",
                                          block_align=2))
        # stereo block whose data region is not a whole 8-byte word group
        stereo_bad = struct.pack("<hBB", 0, 0, 0) * 2 + b"\x00" * 4
        with pytest.raises(WaveExtError, match="word group"):
            decode_wav_ext(encode_wav_raw(0x11, 4, 8000, 2, stereo_bad,
                                          block_align=len(stereo_bad)))

    def test_ima_stereo_interleaves_independent_channel_machines(self):
        """Round 8 (VERDICT r7 #2): stereo IMA ADPCM — per-channel 4-byte
        headers, then 4-byte data words alternating channels (8 samples
        per word).  The stereo decode must equal the interleave of the
        two channels decoded independently as mono streams."""
        import struct

        from rust_dataframe_spark.operators.multimodal import decode_wav
        from rust_dataframe_spark.operators.wave_ext import (
            decode_wav_ext,
            encode_wav_raw,
        )

        def mono_wav(p0, i0, data):
            block = struct.pack("<hBB", p0, i0, 0) + data
            return encode_wav_raw(0x11, 4, 8000, 1, block,
                                  block_align=len(block))

        da = bytes((7 + 11 * j) % 256 for j in range(16))   # 4 words
        db = bytes((201 + 53 * j) % 256 for j in range(16))
        pa, ia, pb, ib = -1500, 20, 900, 70
        _, _, _, sa = decode_wav_ext(mono_wav(pa, ia, da))
        _, _, _, sb = decode_wav_ext(mono_wav(pb, ib, db))
        # build the stereo block: hdrA + hdrB + word-interleaved data
        hdr = struct.pack("<hBB", pa, ia, 0) + struct.pack("<hBB", pb, ib, 0)
        body = bytearray()
        for w in range(4):
            body += da[4 * w:4 * w + 4]
            body += db[4 * w:4 * w + 4]
        block = hdr + bytes(body)
        wav = encode_wav_raw(0x11, 4, 8000, 2, block, block_align=len(block))
        sr, ch, name, s = decode_wav_ext(wav)
        assert (sr, ch, name) == (8000, 2, "ima_adpcm")
        expect = [v for pair in zip(sa, sb) for v in pair]
        assert s == expect
        # front door mixes the two channels (floor-average)
        _, nch, sw, mixed = decode_wav(wav)
        assert (nch, sw) == (2, 2)
        assert mixed == [(a + b) // 2 for a, b in zip(sa, sb)]

    def test_msadpcm_stereo_rotates_nibbles_across_channels(self):
        """Round 8: stereo MS-ADPCM — header fields per channel, nibbles
        rotate across channels with per-channel (s1, s2, delta) state.
        Must equal two independent mono machines interleaved."""
        import struct

        from rust_dataframe_spark.operators.wave_ext import (
            MSADPCM_COEFS,
            decode_wav_ext,
            encode_wav_raw,
            msadpcm_step,
        )

        nibsA = [(3 + 5 * j) % 16 for j in range(12)]
        nibsB = [(9 + 7 * j) % 16 for j in range(12)]

        def ref(pred_idx, delta, s1, s2, nibs):
            c1, c2 = MSADPCM_COEFS[pred_idx]
            delta = max(16, delta)
            out = [s2, s1]
            for nb in nibs:
                new, delta = msadpcm_step(s1, s2, delta, c1, c2, nb)
                s2, s1 = s1, new
                out.append(new)
            return out

        ra = ref(1, 40, 120, -80, nibsA)
        rb = ref(4, 25, -300, 55, nibsB)
        hdr = (
            bytes([1, 4])
            + struct.pack("<hh", 40, 25)      # deltas per channel
            + struct.pack("<hh", 120, -300)   # sample1 per channel
            + struct.pack("<hh", -80, 55)     # sample2 per channel
        )
        # interleave nibbles A,B,A,B... high nibble first within a byte
        inter = [v for pair in zip(nibsA, nibsB) for v in pair]
        body = bytes(
            (inter[2 * i] << 4) | inter[2 * i + 1]
            for i in range(len(inter) // 2)
        )
        block = hdr + body
        wav = encode_wav_raw(0x02, 4, 8000, 2, block, block_align=len(block))
        sr, ch, name, s = decode_wav_ext(wav)
        assert (sr, ch, name) == (8000, 2, "ms_adpcm")
        expect = [v for pair in zip(ra, rb) for v in pair]
        assert s == expect


class TestPngMatrix:
    """Round-7 PNG format-matrix completion (operators/png.py): palette +
    tRNS, bit depths 1/2/4/8/16, Adam7 interlace — round-trip exactness,
    the interlaced==sequential parity law, and fail-loud geometry."""

    def test_depth_expansion_round_trips(self):
        from rust_dataframe_spark.operators.png import decode_png, encode_png

        for d in (1, 2, 4):
            w, h, maxv = 11, 5, (1 << d) - 1
            vals = [(x * 3 + y) % (maxv + 1) for y in range(h) for x in range(w)]
            W, H, C, out = decode_png(encode_png(w, h, vals, channels=1, depth=d))
            assert (W, H, C) == (w, h, 1)
            assert list(out) == [v * 255 // maxv for v in vals]
        v16 = [(i * 9973) % 65536 for i in range(24)]
        _, _, _, out16 = decode_png(encode_png(6, 4, v16, channels=1, depth=16))
        assert list(out16) == [v >> 8 for v in v16]

    def test_palette_with_and_without_trns(self):
        from rust_dataframe_spark.operators.png import decode_png, encode_png

        pal = bytes(
            b for i in range(16)
            for b in ((i * 3) % 256, (i * 5) % 256, (i * 7) % 256)
        )
        idxs = [(x + 2 * y) % 16 for y in range(6) for x in range(9)]
        for d in (1, 2, 4, 8):
            n = min(16, 1 << d)
            iv = [i % n for i in idxs]
            _, _, C, out = decode_png(encode_png(9, 6, iv, palette=pal, depth=d))
            assert C == 3
            assert bytes(out) == bytes(
                b for i in iv for b in pal[3 * i:3 * i + 3]
            )
        trns = bytes([255, 128, 0])
        _, _, C4, out4 = decode_png(
            encode_png(9, 6, idxs, palette=pal, depth=8, trns=trns)
        )
        assert C4 == 4
        for k, i in enumerate(idxs):
            assert out4[4 * k + 3] == (trns[i] if i < 3 else 255)

    def test_adam7_parity_law_full_matrix(self):
        """Interlaced decode == sequential decode for every (channels,
        depth) combo incl. palette, on odd dims that exercise ragged and
        empty passes."""
        from rust_dataframe_spark.operators.png import decode_png, encode_png

        combos = [(1, 1), (1, 2), (1, 4), (1, 8), (1, 16),
                  (2, 8), (3, 8), (3, 16), (4, 8), (4, 16)]
        for chs, d in combos:
            w, h, maxv = 17, 11, (1 << d) - 1
            vals = [(i * 37 + chs) % (maxv + 1) for i in range(w * h * chs)]
            a = decode_png(encode_png(w, h, vals, channels=chs, depth=d))
            b = decode_png(
                encode_png(w, h, vals, channels=chs, depth=d, interlace=1)
            )
            assert a == b, (chs, d)
        for w, h in [(1, 1), (2, 2), (3, 1), (1, 5), (8, 8)]:
            vals = [(i * 5) % 256 for i in range(w * h)]
            assert decode_png(encode_png(w, h, vals, channels=1)) == decode_png(
                encode_png(w, h, vals, channels=1, interlace=1)
            ), (w, h)

    def test_fail_loud_matrix(self):
        import pytest

        from rust_dataframe_spark.operators.png import (
            PngError,
            decode_png,
            encode_png,
        )

        pal9 = bytes(range(9))
        with pytest.raises(PngError, match="beyond PLTE"):
            decode_png(encode_png(4, 4, [5] * 16, palette=pal9, depth=8))
        with pytest.raises(PngError, match="illegal bit depth"):
            encode_png(4, 4, [0] * 48, channels=3, depth=4)
        with pytest.raises(PngError, match="range"):
            encode_png(4, 4, [2] * 16, channels=1, depth=1)


class TestMsAdpcm:
    """MS-ADPCM (round 7, wave_ext tag 0x02): 7-coefficient prediction +
    adaptive delta with the documented 2^23-1 anti-blowup clamp, header
    samples oldest-first, front door behind q402."""

    def test_container_decode_matches_step_replay(self):
        import struct

        from rust_dataframe_spark.operators.multimodal import decode_wav
        from rust_dataframe_spark.operators.wave_ext import (
            MSADPCM_COEFS,
            decode_wav_ext,
            encode_wav_raw,
            msadpcm_step,
        )

        d, m = 9, 55
        pidx = d % 7
        delta0 = 16 + (d * 13) % 1000
        s1_0 = ((d * 131) % 30001) - 15000
        s2_0 = ((d * 373) % 30001) - 15000
        data = bytes((d * 11 + j * 29) % 256 for j in range(m))
        block = bytes([pidx]) + struct.pack("<hhh", delta0, s1_0, s2_0) + data
        wav = encode_wav_raw(2, 4, 8000, 1, block, block_align=len(block))
        sr, ch, name, s = decode_wav_ext(wav)
        assert (sr, ch, name) == (8000, 1, "ms_adpcm")
        c1, c2 = MSADPCM_COEFS[pidx]
        s1, s2, delta = s1_0, s2_0, delta0
        exp = [s2_0, s1_0]
        for b in data:
            for n in (b >> 4, b & 0x0F):  # high nibble first
                new, delta = msadpcm_step(s1, s2, delta, c1, c2, n)
                s2, s1 = s1, new
                exp.append(new)
        assert s == exp
        _, _, sw, s_front = decode_wav(wav)
        assert sw == 2 and s_front == exp

    def test_delta_clamp_keeps_state_bounded(self):
        """All-nibble-8 (adaptation 768 = x3/step) is the worst
        adversarial stream: without the documented 2^23-1 clamp delta
        grows geometrically past every integer carrier; with it the
        decoder is total and delta saturates."""
        from rust_dataframe_spark.operators.wave_ext import msadpcm_step

        s1, s2, delta = 0, 0, 32767
        for _ in range(100):
            new, delta = msadpcm_step(s1, s2, delta, 256, 0, 8)
            s2, s1 = s1, new
            assert delta <= 0x7FFFFF
            assert -32768 <= new <= 32767
        assert delta == 0x7FFFFF  # saturated, not wrapped

    def test_bad_predictor_and_geometry_fail_loud(self):
        import struct

        import pytest

        from rust_dataframe_spark.operators.wave_ext import (
            WaveExtError,
            decode_wav_ext,
            encode_wav_raw,
        )

        block = bytes([7]) + struct.pack("<hhh", 16, 0, 0) + b"\x00" * 8
        with pytest.raises(WaveExtError, match="> 6"):
            decode_wav_ext(encode_wav_raw(2, 4, 8000, 1, block,
                                          block_align=len(block)))
        with pytest.raises(WaveExtError, match="block_align"):
            decode_wav_ext(encode_wav_raw(2, 4, 8000, 1, b"\x00" * 4,
                                          block_align=4))


class TestKneserNey:
    """Interpolated Kneser-Ney bigram LM (round 7, q403): exact-rational
    discount arithmetic, the normalization invariant, and degenerate
    docs."""

    def test_matches_exact_fraction_replay(self, spark):
        import math
        from collections import Counter

        from rust_dataframe_spark.operators.text import kneser_ney_logprob

        docs = [(1, "a b a b a c"), (2, "b a c a"), (3, "solo"),
                (4, "c c c b")]
        out = {r["doc_id"]: r for r in kneser_ney_logprob(
            spark.createDataFrame(docs, "doc_id bigint, text string"),
            "doc_id", "text").collect()}
        toks = {i: t.split() for i, t in docs}
        c2 = Counter(
            (w[j], w[j + 1]) for w in toks.values() for j in range(len(w) - 1)
        )
        ctx = Counter()
        n1f = Counter()
        n1b = Counter()
        for (a, b), c in c2.items():
            ctx[a] += c
            n1f[a] += 1
            n1b[b] += 1
        N = len(c2)
        for i, w in toks.items():
            lps = []
            for j in range(len(w) - 1):
                a, b = w[j], w[j + 1]
                num = max(4 * c2[(a, b)] - 3, 0) * N + 3 * n1f[a] * n1b[b]
                lps.append(math.log(num / (4 * ctx[a] * N)))
            if not lps:
                assert out[i]["n_bigrams"] == 0
                assert out[i]["avg_logprob"] is None
                continue
            assert out[i]["n_bigrams"] == len(lps)
            assert abs(out[i]["avg_logprob"] - sum(lps) / len(lps)) < 1e-12

    def test_normalization_invariant_exact(self):
        """The defining interpolated-KN property: for every context a,
        sum over the WHOLE continuation vocabulary of P(b|a) == 1 —
        verified in exact Fractions (discount mass D per observed type
        exactly re-enters through the continuation distribution)."""
        from collections import Counter
        from fractions import Fraction

        w = "a b a b a c b b a c a b c a".split()
        c2 = Counter((w[j], w[j + 1]) for j in range(len(w) - 1))
        ctx = Counter()
        n1f = Counter()
        n1b = Counter()
        for (a, b), c in c2.items():
            ctx[a] += c
            n1f[a] += 1
            n1b[b] += 1
        N = len(c2)
        D = Fraction(3, 4)
        cont_vocab = set(n1b)
        for a in ctx:
            total = sum(
                (Fraction(max(c2.get((a, b), 0) - D, 0))
                 + D * n1f[a] * Fraction(n1b[b], N)) / ctx[a]
                for b in cont_vocab
            )
            assert total == 1, (a, total)

    def test_kn_discount_beats_add1_on_frequent_contexts(self, spark):
        """The motivating behavior: after a frequent context word, an
        often-seen continuation keeps more probability under KN than
        under add-1 (which flattens toward 1/V)."""
        from rust_dataframe_spark.operators.text import (
            bigram_logprob,
            kneser_ney_logprob,
        )

        text = " ".join(["the cat"] * 20 + ["the dog"] * 2
                        + [f"w{i} x{i}" for i in range(30)])
        df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
        kn = kneser_ney_logprob(df, "doc_id", "text").collect()[0]
        a1 = bigram_logprob(df, "doc_id", "text").collect()[0]
        assert kn["avg_logprob"] > a1["avg_logprob"]


class TestJpegArithmetic:
    """Round 8 (VERDICT r7 #4): arithmetic-coded sequential JPEG (SOF9) —
    the T.81 Annex D QM-coder + Annex F statistical model in
    operators/jpeg_arith.py, dispatched from decode_jpeg."""

    def test_qm_coder_randomized_round_trip(self):
        """Encoder and decoder are exact inverses over randomized bit
        streams and shared adaptive bins — including heavily biased
        streams (deep MPS adaptation) and carry/stuffing edge paths."""
        import random

        from rust_dataframe_spark.operators.jpeg_arith import (
            FIXED_BIN,
            ArithDecoder,
            ArithEncoder,
        )

        rng = random.Random(42)
        for trial in range(40):
            nbins = rng.randint(1, 20)
            n = rng.randint(1, 800)
            seq = [(rng.randrange(nbins), rng.randint(0, 1)) for _ in range(n)]
            if trial % 3 == 0:  # biased: drives states deep into the table
                seq = [(b, 1 if rng.random() < 0.95 else 0) for b, _ in seq]
            enc = ArithEncoder()
            st = bytearray(nbins)
            for b, bit in seq:
                enc.encode(st, b, bit)
            blob = enc.flush()
            dec = ArithDecoder(blob + b"\xff\xd9", 0)
            st2 = bytearray(nbins)
            for b, bit in seq:
                assert dec.decode(st2, b) == bit
            assert st == st2  # adaptation trajectories agree bin-for-bin
        # the sign bin never adapts
        enc = ArithEncoder()
        fx = bytearray([FIXED_BIN << 1])
        bits = [rng.randint(0, 1) for _ in range(500)]
        for b in bits:
            enc.encode(fx, 0, b)
        assert fx[0] == FIXED_BIN << 1
        dec = ArithDecoder(enc.flush() + b"\xff\xd9", 0)
        fx2 = bytearray([FIXED_BIN << 1])
        assert [dec.decode(fx2, 0) for _ in bits] == bits

    def test_block_constant_pixel_exact(self):
        """quant=1 block-constant grayscale round-trips EXACTLY through
        the SOF9 path (the q387/q395 discipline behind q409)."""
        from rust_dataframe_spark.operators.jpeg import decode_jpeg
        from rust_dataframe_spark.operators.jpeg_arith import (
            encode_jpeg_arithmetic,
        )

        for w, h, salt in [(8, 8, 0), (32, 16, 3), (24, 24, 9)]:
            px = bytes(
                (13 + 17 * (x // 8) + 31 * (y // 8) + 5 * salt) % 256
                for y in range(h)
                for x in range(w)
            )
            assert decode_jpeg(encode_jpeg_arithmetic(w, h, px)) == (
                w, h, 1, px
            )

    def test_arithmetic_equals_huffman_parity_law(self):
        """Same DCT/quant pipeline, different entropy coder: decoded
        pixels must be IDENTICAL to the baseline Huffman path — gray
        (odd dims incl. edge replication), color, and 4:2:0."""
        from rust_dataframe_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )
        from rust_dataframe_spark.operators.jpeg_arith import (
            encode_jpeg_arithmetic,
        )

        for w, h in [(5, 25), (30, 7), (17, 11)]:
            px = bytes(
                (x * 7 + y * 13) % 256 for y in range(h) for x in range(w)
            )
            assert decode_jpeg(
                encode_jpeg_arithmetic(w, h, px, channels=1)
            ) == decode_jpeg(encode_jpeg(w, h, px, channels=1)), (w, h)
        w, h = 19, 13
        rgb = bytes(
            (x * 5 + y * 7 + c * 11) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        for ss in (False, True):
            assert decode_jpeg(
                encode_jpeg_arithmetic(w, h, rgb, channels=3, subsample=ss)
            ) == decode_jpeg(encode_jpeg(w, h, rgb, channels=3, subsample=ss))

    def test_dac_conditioning_and_fail_loud(self):
        import struct

        import pytest

        from rust_dataframe_spark.operators.jpeg import (
            JpegError,
            decode_jpeg,
        )
        from rust_dataframe_spark.operators.jpeg_arith import (
            encode_jpeg_arithmetic,
        )

        px = bytes((11 + 3 * (x // 8)) % 256 for _y in range(8) for x in range(16))
        blob = encode_jpeg_arithmetic(16, 8, px)
        # the stream carries an explicit DAC segment with the defaults
        i = blob.find(b"\xff\xcc")
        assert i > 0
        assert blob[i + 4 : i + 8] == bytes([0x00, 0x10, 0x10, 5])
        # corrupt DC conditioning to L > U: fail loud
        bad = bytearray(blob)
        bad[i + 5] = 0x05  # U=0, L=5
        with pytest.raises(JpegError, match="conditioning"):
            decode_jpeg(bytes(bad))
        # progressive-arithmetic (SOF10) stays a documented gate
        bad2 = bytearray(blob)
        j = bad2.index(b"\xff\xc9")
        bad2[j + 1] = 0xCA
        with pytest.raises(JpegError, match="unsupported SOF"):
            decode_jpeg(bytes(bad2))
        # truncating the entropy segment feeds zeros (T.81 F.2.2.5) —
        # decode completes (garbage pixels) or fails loud, never hangs
        try:
            decode_jpeg(blob[: len(blob) // 2] + b"\xff\xd9")
        except JpegError:
            pass


class TestJpegLossless:
    """Round 8: lossless JPEG (SOF3, T.81 Annex H) in
    operators/jpeg_lossless.py, dispatched from decode_jpeg_ext —
    EXACT round-trip, every predictor, precisions 2..16."""

    def test_all_predictors_exact_8bit(self):
        import random

        from rust_dataframe_spark.operators.jpeg import decode_jpeg
        from rust_dataframe_spark.operators.jpeg_lossless import (
            encode_jpeg_lossless,
        )

        rng = random.Random(7)
        for pred in range(1, 8):
            w, h = 17, 11
            px = [rng.randrange(256) for _ in range(w * h)]
            blob = encode_jpeg_lossless(w, h, px, predictor=pred)
            ww, hh, ch, out = decode_jpeg(blob)
            assert (ww, hh, ch) == (w, h, 1)
            assert list(out) == px

    def test_deep_precisions_and_channels(self):
        import random
        import struct

        from rust_dataframe_spark.operators.jpeg import decode_jpeg_ext
        from rust_dataframe_spark.operators.jpeg_lossless import (
            encode_jpeg_lossless,
        )

        rng = random.Random(11)
        for prec, nch, pred in [(2, 1, 1), (12, 1, 4), (16, 3, 5),
                                (10, 2, 7), (16, 1, 2)]:
            w, h = 9, 6
            top = (1 << prec) - 1
            px = [rng.randint(0, top) for _ in range(w * h * nch)]
            blob = encode_jpeg_lossless(
                w, h, px, channels=nch, precision=prec, predictor=pred
            )
            ww, hh, ch, depth, out = decode_jpeg_ext(blob)
            assert (ww, hh, ch, depth) == (w, h, nch, prec)
            if prec <= 8:
                assert list(out) == px
            else:
                assert list(struct.unpack(f"<{w * h * nch}H", out)) == px

    def test_point_transform(self):
        """Decoded output is the Pt-truncated domain shifted back up
        (Annex H point transform semantics)."""
        import random
        import struct

        from rust_dataframe_spark.operators.jpeg import decode_jpeg_ext
        from rust_dataframe_spark.operators.jpeg_lossless import (
            encode_jpeg_lossless,
        )

        rng = random.Random(3)
        w, h = 8, 8
        px = [rng.randrange(4096) for _ in range(w * h)]
        blob = encode_jpeg_lossless(
            w, h, px, precision=12, predictor=6, point_transform=3
        )
        _, _, _, depth, out = decode_jpeg_ext(blob)
        vals = list(struct.unpack(f"<{w * h}H", out))
        assert vals == [(v >> 3) << 3 for v in px]

    def test_ssss16_large_diff_path(self):
        """A sample stream engineered to produce the lossless-only
        SSSS=16 (diff exactly 32768 mod 2^16) code round-trips."""
        import struct

        from rust_dataframe_spark.operators.jpeg import decode_jpeg_ext
        from rust_dataframe_spark.operators.jpeg_lossless import (
            encode_jpeg_lossless,
        )

        # first sample predicted with 1 << 15; value 0 gives diff -32768
        # == 32768 mod 2^16 -> the SSSS=16 code with no appended bits
        px = [0, 32768, 0, 32768, 65535, 1, 32769, 2]
        blob = encode_jpeg_lossless(4, 2, px, precision=16, predictor=1)
        _, _, _, _, out = decode_jpeg_ext(blob)
        assert list(struct.unpack("<8H", out)) == px

    def test_fail_loud_contracts(self):
        import pytest

        from rust_dataframe_spark.operators.jpeg import JpegError, decode_jpeg
        from rust_dataframe_spark.operators.jpeg_lossless import (
            encode_jpeg_lossless,
        )

        with pytest.raises(JpegError):
            encode_jpeg_lossless(4, 2, [0] * 8, predictor=0)
        with pytest.raises(JpegError):
            encode_jpeg_lossless(4, 2, [0] * 8, precision=17)
        with pytest.raises(JpegError):
            encode_jpeg_lossless(2, 2, [256, 0, 0, 0], precision=8)
        # deep samples through the byte-contract entry raise
        blob = encode_jpeg_lossless(2, 2, [0, 1, 2, 3], precision=12)
        with pytest.raises(JpegError, match="decode_jpeg_ext"):
            decode_jpeg(blob)


class TestJpeg12Bit:
    """Round 8: 12-bit extended sequential (SOF1) — Pq=1 DQT, level
    shift 2048, extended F.1 ladders; decode via decode_jpeg_ext."""

    def test_block_constant_exact(self):
        import struct

        from rust_dataframe_spark.operators.jpeg import (
            decode_jpeg_ext,
            encode_jpeg,
        )

        w, h = 24, 16
        px = [
            (100 + 137 * ((x // 8) + 3 * (y // 8))) % 4096
            for y in range(h)
            for x in range(w)
        ]
        ww, hh, ch, depth, out = decode_jpeg_ext(
            encode_jpeg(w, h, px, channels=1, precision=12)
        )
        assert (ww, hh, ch, depth) == (w, h, 1, 12)
        assert list(struct.unpack(f"<{w * h}H", out)) == px

    def test_general_content_bounded_error(self):
        import random
        import struct

        from rust_dataframe_spark.operators.jpeg import (
            decode_jpeg_ext,
            encode_jpeg,
        )

        rng = random.Random(5)
        w, h = 16, 16
        px = [rng.randrange(4096) for _ in range(w * h)]
        _, _, _, _, out = decode_jpeg_ext(
            encode_jpeg(w, h, px, channels=1, precision=12)
        )
        vals = struct.unpack(f"<{w * h}H", out)
        assert max(abs(a - b) for a, b in zip(vals, px)) <= 16

    def test_16bit_dqt_parsed(self):
        """quant values beyond 255 force Pq=1 16-bit DQT entries and
        decode applies them (coarse quantization shows up as larger
        reconstruction error, never a parse failure)."""
        import struct

        from rust_dataframe_spark.operators.jpeg import (
            decode_jpeg_ext,
            encode_jpeg,
        )

        w, h = 8, 8
        px = [2048 + ((x * 64 + y * 32) % 1024) for y in range(h) for x in range(w)]
        _, _, _, depth, out = decode_jpeg_ext(
            encode_jpeg(w, h, px, channels=1, precision=12, quant=300)
        )
        assert depth == 12
        vals = struct.unpack(f"<{w * h}H", out)
        assert all(0 <= v <= 4095 for v in vals)

    def test_contracts(self):
        import pytest

        from rust_dataframe_spark.operators.jpeg import JpegError, encode_jpeg

        with pytest.raises(JpegError):
            encode_jpeg(2, 2, [0] * 12, channels=3, precision=12)
        with pytest.raises(JpegError):
            encode_jpeg(2, 2, [4096, 0, 0, 0], channels=1, precision=12)
        with pytest.raises(JpegError):
            encode_jpeg(2, 2, [0] * 4, channels=1, precision=10)


class TestFlac:
    """Round 8: pure-stdlib FLAC codec (operators/flac.py) — lossless,
    CRC-8/16 + STREAMINFO MD5 enforced, exact round-trip."""

    def test_round_trip_matrix(self):
        import math
        import random

        from rust_dataframe_spark.operators.flac import decode_flac, encode_flac

        rng = random.Random(9)
        cases = [
            ("random16", 1, 16, [rng.randint(-32768, 32767) for _ in range(900)]),
            ("smooth16", 1, 16, [int(9000 * math.sin(i / 17)) for i in range(4000)]),
            ("const", 1, 16, [-777] * 500),
            ("ramp8", 1, 8, [(i % 200) - 100 for i in range(600)]),
            ("deep24", 1, 24, [rng.randint(-(1 << 23), (1 << 23) - 1) for _ in range(300)]),
        ]
        for name, nch, bps, s in cases:
            for bsz in (192, 4096):
                r, ch, b, out = decode_flac(
                    encode_flac(44100, nch, bps, s, block_size=bsz)
                )
                assert (r, ch, b) == (44100, nch, bps)
                assert out == s, name

    def test_stereo_mid_side(self):
        import math

        from rust_dataframe_spark.operators.flac import decode_flac, encode_flac

        ls = [int(5000 * math.sin(i / 11)) for i in range(2500)]
        rs = [int(5000 * math.sin(i / 11 + 0.2)) + (i % 7) - 3 for i in range(2500)]
        inter = [v for p in zip(ls, rs) for v in p]
        for ms in (False, True):
            _, ch, _, out = decode_flac(
                encode_flac(8000, 2, 16, inter, block_size=1152, mid_side=ms)
            )
            assert ch == 2 and out == inter

    def test_crc_and_md5_fail_loud(self):
        import pytest

        from rust_dataframe_spark.operators.flac import (
            FlacError,
            decode_flac,
            encode_flac,
        )

        blob = bytearray(encode_flac(8000, 1, 16, list(range(-200, 200))))
        bad = bytearray(blob)
        bad[-1] ^= 0x55  # frame CRC-16
        with pytest.raises(FlacError, match="CRC-16"):
            decode_flac(bytes(bad))
        bad = bytearray(blob)
        bad[10] ^= 0x01  # STREAMINFO -> MD5 mismatch path is caught by
        # framestream checks first only if structure breaks; flip MD5 itself
        bad = bytearray(blob)
        bad[4 + 4 + 18] ^= 0xFF  # first MD5 byte inside STREAMINFO
        with pytest.raises(FlacError, match="MD5"):
            decode_flac(bytes(bad))

    def test_lpc_rice2_escape_wasted_handbuilt(self):
        """Hand-built single-frame stream exercising the decoder paths
        the fixture encoder never emits: LPC order 2, rice2 (method 1)
        residual with partition order 1, one ESCAPE partition (raw
        5-bit residuals), and a wasted-bits subframe prefix."""
        import struct

        from rust_dataframe_spark.operators.flac import (
            _BitW,
            _crc8,
            _crc16,
            _md5_of,
            decode_flac,
        )

        n, bps = 16, 16
        # all-even samples so wasted=1 is legitimate
        s = [4, 8, 10, 14, 12, 10, 8, 10, 14, 18, 20, 18, 14, 12, 10, 8]
        half = [v >> 1 for v in s]  # stored domain (wasted=1)
        order, shift, coefs = 2, 1, [3, -1]
        res = []
        for i in range(order, n):
            pred = (coefs[0] * half[i - 1] + coefs[1] * half[i - 2]) >> shift
            res.append(half[i] - pred)
        # STREAMINFO
        si = _BitW()
        si.write(16, n); si.write(16, n)
        si.write(24, 0); si.write(24, 0)
        si.write(20, 8000); si.write(3, 0); si.write(5, bps - 1)
        si.write(36, n)
        body = si.bytes() + _md5_of(s, 1, bps)
        out = bytearray(b"fLaC")
        out += bytes([0x80]) + len(body).to_bytes(3, "big") + body
        # frame header
        hdr = _BitW()
        hdr.write(14, 0x3FFE); hdr.write(1, 0); hdr.write(1, 0)
        hdr.write(4, 6)   # 8-bit blocksize-1 at end
        hdr.write(4, 0)   # rate from streaminfo
        hdr.write(4, 0)   # 1 channel
        hdr.write(3, 4)   # 16-bit
        hdr.write(1, 0)
        hdr.write(8, 0)   # frame number 0 (utf8 1-byte)
        hdr.write(8, n - 1)
        hdr.align()
        hb = bytearray(hdr.bytes()); hb.append(_crc8(bytes(hb)))
        # subframe: LPC order 2 (type 32 + order - 1), wasted=1
        bw = _BitW()
        bw.write(1, 0)
        bw.write(6, 32 + order - 1)
        bw.write(1, 1)   # wasted flag
        bw.write(1, 1)   # unary 0 -> wasted = 1
        eff = bps - 1
        for v in half[:order]:
            bw.write(eff, v)
        bw.write(4, 3)    # precision-1 = 3 -> 4-bit coefs
        bw.write(5, shift)
        for c in coefs:
            bw.write(4, c)
        # residual: method 1 (rice2), partition order 1 -> 2 partitions
        bw.write(2, 1)
        bw.write(4, 1)
        # partition 0: n/2 - order = 6 residuals, rice2 param 2
        bw.write(5, 2)
        for v in res[:6]:
            u = (v << 1) if v >= 0 else (((-v) << 1) - 1)
            q = u >> 2
            bw.write(q + 1, 1)
            bw.write(2, u & 3)
        # partition 1: 8 residuals, ESCAPE with 5 raw bits
        bw.write(5, 31)
        bw.write(5, 5)
        for v in res[6:]:
            bw.write(5, v & 31)
        bw.align()
        frame = bytes(hb) + bw.bytes()
        out += frame + struct.pack(">H", _crc16(frame))
        r, ch, b, dec = decode_flac(bytes(out))
        assert (r, ch, b) == (8000, 1, 16)
        assert dec == s

    def test_decode_audio_dispatch(self):
        """multimodal.decode_audio routes FLAC by magic and keeps the
        sample-scale invariant (12-bit shifts to the 16-bit carrier)."""
        from rust_dataframe_spark.operators.flac import encode_flac
        from rust_dataframe_spark.operators.multimodal import decode_audio

        s = [(i % 401) - 200 for i in range(500)]
        sr, nch, sw, mono = decode_audio(encode_flac(16000, 1, 12, s))
        assert (sr, nch, sw) == (16000, 1, 2)
        assert mono == [v << 4 for v in s]
        # stereo mixes to mono like decode_wav does
        inter = [v for p in zip(s, [x + 2 for x in s]) for v in p]
        _, nch2, _, mono2 = decode_audio(encode_flac(16000, 2, 16, inter))
        assert nch2 == 2
        assert mono2 == [(a + a + 2) // 2 for a in s]
