"""Debug visualization (functions/vis.py): deterministic renderings,
keep/drop markers, CLI subcommand end-to-end."""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

from my_ocr_spark.functions.vis import (
    render_blocks_text,
    render_page_html,
    vis_sample,
)

_ROOT = pathlib.Path(__file__).resolve().parents[1]

_PAGE = (b"<html><head><title>T&amp;Co</title></head><body>"
         b"<nav><a href=/x>home about contact pricing support</a></nav>"
         b"<p>This is a long and genuinely informative paragraph with "
         b"many words that the block scorer should definitely keep.</p>"
         b"<footer>copyright</footer></body></html>")


def test_text_rendering_markers():
    out = render_blocks_text(_PAGE)
    lines = out.splitlines()
    assert lines[0].lstrip().startswith("verdict")
    assert any("KEEP" in ln and "body/p" in ln for ln in lines)
    assert any("drop" in ln and "body/nav" in ln for ln in lines)
    # deterministic: same input -> same bytes
    assert out == render_blocks_text(_PAGE)


def test_text_rendering_link_density_bar():
    out = render_blocks_text(_PAGE)
    nav_line = next(ln for ln in out.splitlines() if "body/nav" in ln)
    assert "##########" in nav_line  # all-link block -> full bar


def test_html_rendering_overlay_and_escaping():
    out = render_page_html(_PAGE)
    assert "class='keep'" in out and "class='drop'" in out
    assert "T&amp;Co" in out      # title escaped, entity round-trips
    assert "<script" not in out


def test_renderers_total_on_garbage():
    for payload in (b"", b"\xff\xfe\x00garbage<<<", b"<p>" * 500):
        render_blocks_text(payload)
        render_page_html(payload)


def test_vis_sample_bounded(spark, docs_df):
    out = vis_sample(docs_df, n=3, mode="text")
    assert len(out) == 3
    assert all("verdict" in r["rendering"] for r in out)


def test_cli_vis_end_to_end(spark, docs_df, tmp_path):
    src = str(tmp_path / "docs")
    out = str(tmp_path / "vis.txt")
    docs_df.write.parquet(src)
    p = subprocess.run(
        [sys.executable, "-m", "my_ocr_spark", "vis",
         "--input", src, "--output", out, "--n", "2",
         "--master", "local[2]"],
        capture_output=True, text=True, timeout=420, cwd=_ROOT)
    assert p.returncode == 0, p.stderr[-1500:]
    stats = json.loads(p.stdout.strip().splitlines()[-1])
    assert stats["n_docs"] == 2
    content = open(out, encoding="utf-8").read()
    assert "verdict" in content and "=" * 78 in content
