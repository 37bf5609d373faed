"""Per-group KNN operator vs brute force; guarded multimodal decode."""

import random

import numpy as np
import pytest


def test_knn_per_group_matches_brute_force(spark):
    from my_ocr_spark.operators.knn import knn_per_group
    rng = random.Random(17)
    rows = []
    for img in range(12):
        n = rng.randint(1, 9)
        coords = rng.sample([(x, y) for x in range(15) for y in range(15)], n)
        for i, (x, y) in enumerate(coords):
            rows.append((img, x * 150 + y, x, y))
    df = spark.createDataFrame(rows, "img long, pid long, x long, y long")
    got = {(r["img"], r["src_id"], r["rnk"]):
           (r["neighbor_id"], r["dist2"])
           for r in knn_per_group(df, k=3).collect()}

    # brute force
    from collections import defaultdict
    by_img = defaultdict(list)
    for img, pid, x, y in rows:
        by_img[img].append((pid, x, y))
    expect = {}
    for img, pts in by_img.items():
        for pid, x, y in pts:
            nbrs = sorted(
                ((px - x) ** 2 + (py - y) ** 2, p)
                for p, px, py in pts if p != pid)
            for rnk, (d2, p) in enumerate(nbrs[:3], 1):
                expect[(img, pid, rnk)] = (p, d2)
    assert got == expect


def test_knn_single_point_group_emits_nothing(spark):
    from my_ocr_spark.operators.knn import knn_per_group
    df = spark.createDataFrame([(1, 5, 2, 3)],
                               "img long, pid long, x long, y long")
    assert knn_per_group(df, k=3).count() == 0


def test_decode_payload_stub_in_container():
    """No image libs in this container → decode must degrade to the
    labeled stub, deterministically."""
    from my_ocr_spark.operators import multimodal as mm
    out1 = mm.decode_payload(b"hello payload")
    out2 = mm.decode_payload(b"hello payload")
    assert out1 == out2
    assert out1[4] in ("stub", "pil")  # container has no PIL → stub
    w, h, nf, l2, dec = out1
    assert w > 0 and h > 0 and nf >= 1 and l2 > 0


def test_decode_payload_uses_real_decoder_when_available(monkeypatch):
    """Monkeypatch a fake PIL into the probe cache: the REAL path must be
    exercised (guarded-degradation contract, not a permanent stub)."""
    from my_ocr_spark.operators import multimodal as mm

    class FakeImg:
        size = (64, 48)
        n_frames = 3

        def convert(self, mode):
            assert mode == "L"
            return np.ones((48, 64), dtype=np.uint8) * 2

    class FakeImageModule:
        @staticmethod
        def open(buf):
            assert buf.read(4) == b"PNG!"
            return FakeImg()

    monkeypatch.setattr(mm, "_PIL", FakeImageModule)
    w, h, nf, l2, dec = mm.decode_payload(b"PNG!rest-of-bytes")
    assert dec == "pil"
    assert (w, h, nf) == (64, 48, 3)
    assert abs(l2 - np.sqrt((np.full((48, 64), 2.0) ** 2).sum())) < 1e-9


def test_decode_payload_falls_back_on_decoder_error(monkeypatch):
    from my_ocr_spark.operators import multimodal as mm

    class Broken:
        @staticmethod
        def open(buf):
            raise ValueError("not an image")

    monkeypatch.setattr(mm, "_PIL", Broken)
    *_, dec = mm.decode_payload(b"\x00garbage")
    assert dec == "stub"


def test_decode_payload_real_png_path_in_container():
    """PNG payloads take the pure-stdlib decode path — REAL pixels, no
    image library, no stub (the round-6 'partial' conversion)."""
    from my_ocr_spark.kernel.png import encode_png, luma
    from my_ocr_spark.operators import multimodal as mm

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (12, 9, 3), dtype=np.uint8)
    payload = encode_png(img, filter_type=1)
    w, h, nf, l2, dec = mm.decode_payload(payload)
    assert dec == "stdlib-png"
    assert (w, h, nf) == (9, 12, 1)
    expect = float(np.sqrt((luma(img).astype(np.float64) ** 2).sum()))
    assert abs(l2 - expect) < 1e-9
    # malformed PNG body (good magic, bad structure) degrades honestly
    *_, dec2 = mm.decode_payload(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)
    assert dec2 == "stub"


def test_decode_image_stats_integer_luma():
    from my_ocr_spark.kernel.png import encode_png, luma
    from my_ocr_spark.operators import multimodal as mm

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (7, 11, 4), dtype=np.uint8)
    w, h, ch, ls, dec = mm.decode_image_stats(encode_png(img,
                                                         interlace=1))
    assert (w, h, ch, dec) == (11, 7, 4, "stdlib-png")
    assert ls == int(luma(img).astype(np.int64).sum())
    assert mm.decode_image_stats(b"not an image")[4] == "none"
