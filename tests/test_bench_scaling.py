"""``tools/bench_scaling.py --out`` rewrites only its own section of the
report file (Spark-free: a temp file and a fabricated report)."""

from tools.bench_scaling import SECTION_HEADING, write_markdown

REPORT = {
    "workloads": {
        "light": {
            "events": 1000,
            "max_len": 64,
            "median_sec_n": 4.0,
            "median_sec_4n": 1.25,
            "eps_n": 250.0,
            "eps_4n": 800.0,
            "scaling_efficiency": 0.8,
        }
    }
}


def test_write_markdown_keeps_the_other_sections(tmp_path):
    out = tmp_path / "BENCH.md"
    out.write_text(
        "# Preface\n\nkept before\n\n"
        f"{SECTION_HEADING} (N vs 4N executors)\n\nold table\n\n"
        "## Why `local-cluster` (old)\n\nold reading\n\n"
        "# Headline suites\n\n## Round 2\n\nkept after\n"
    )
    write_markdown(REPORT, str(out))
    text = out.read_text()
    assert text.startswith("# Preface\n\nkept before\n\n")
    assert text.endswith("\n\n# Headline suites\n\n## Round 2\n\nkept after\n")
    assert "old table" not in text and "old reading" not in text
    assert text.count(SECTION_HEADING) == 1
    assert "| light | 1,000 | max 64 tokens | 4.0s (250 ev/s) |" in text

    # a rerun is a fixed point, and a file without the section gets it appended
    write_markdown(REPORT, str(out))
    assert out.read_text() == text
    other = tmp_path / "OTHER.md"
    other.write_text("# Other\n\nkept\n")
    write_markdown(REPORT, str(other))
    assert other.read_text().startswith(f"# Other\n\nkept\n\n{SECTION_HEADING}")
