"""File-source scan tests (SURVEY.md §2.1 S1-S4) against a tmpdir
tree with decoy files — mirroring the reference's test approach
(reference tests/test_file_handler.py:14-43)."""

import pytest

from parserpdf_spark.sources.scans import scan_files, scan_multi


@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("scantree")
    (root / "sub" / "deep").mkdir(parents=True)
    files = {
        "a.pdf": b"%PDF-1.4 fake",
        "sub/b.pdf": b"%PDF-1.4 fake2",
        "sub/deep/c.html": b"<h1>x</h1>",
        "sub/d.htm": b"<p>y</p>",
        "e.md": b"# title",
        "decoy.txt": b"nope",
        "sub/decoy.docx.bak": b"nope",
    }
    for rel, content in files.items():
        (root / rel).write_bytes(content)
    return str(root)


def names(df):
    return sorted(r["path"].rsplit("/", 1)[-1] for r in df.select("path").collect())


@pytest.mark.parametrize("globs, want", [
    # S1: collect_pdf_paths
    ("*.pdf", ["a.pdf", "b.pdf"]),
    # S2: the reference *intended* .htm but its 2-arg rglob drops it
    # (utils/file_utils.py:459); here both patterns scan
    (["*.html", "*.htm"], ["c.html", "d.htm"]),
    # S4: collect_markdown_paths
    ("*.md", ["e.md"]),
], ids=["s1_pdf", "s2_html_htm", "s4_markdown"])
def test_recursive_glob_scan(spark, tree, globs, want):
    if isinstance(globs, str):
        assert names(scan_files(spark, tree, globs)) == want
    else:
        assert names(scan_multi(spark, tree, globs)) == want


def test_s3_multi_pattern_scan_with_content(spark, tree):
    df = scan_multi(spark, tree, ["*.pdf", "*.html"], with_content=True)
    assert names(df) == ["a.pdf", "b.pdf", "c.html"]
    content = {r["path"].rsplit("/", 1)[-1]: bytes(r["content"])
               for r in df.collect()}
    assert content["a.pdf"].startswith(b"%PDF")

