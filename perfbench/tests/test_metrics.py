import os

import pytest

from perfbench import metrics


@pytest.mark.parametrize("n", [11, 12, 20, 37, 100, 1000])
def test_tail_keeps_at_least_ten_samples_beyond(n):
    samples = [float((i * 7919) % n) for i in range(n)]
    value, pct = metrics.tail(samples)
    assert sum(x > value for x in samples) >= 10
    # the next higher sample would leave fewer than ten beyond it
    higher = sorted(x for x in samples if x > value)[0]
    assert sum(x > higher for x in samples) < 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_is_absent_below_eleven_samples():
    assert metrics.tail([1.0] * 10) is None
    assert metrics.tail([float(i) for i in range(10)]) is None
    assert "tail" not in metrics.summarize([1.0, 2.0, 3.0])


def test_tail_steps_down_past_ties():
    samples = [1.0] * 5 + [2.0] * 20
    value, pct = metrics.tail(samples)
    assert value == 1.0 and pct == pytest.approx(20.0)
    assert metrics.tail([2.0] * 25) is None


def test_summarize_reports_median_and_count():
    s = metrics.summarize([float(i) for i in range(1, 22)])
    assert s["n"] == 21 and s["p50"] == 11.0
    assert s["tail"] == 11.0 and s["tail_pct"] == pytest.approx(100 * 11 / 21)


def test_written_since_counts_only_files_of_the_iteration(tmp_path):
    sink = tmp_path / "sink" / "q"
    index = tmp_path / "index" / "bands"
    sink.mkdir(parents=True)
    index.mkdir(parents=True)
    old = index / "part-0.parquet"
    old.write_bytes(b"x" * 1000)
    os.utime(old, ns=(1_000_000_000, 1_000_000_000))
    since = 2_000_000_000
    (sink / "part-0.parquet").write_bytes(b"y" * 300)
    (sink / "_SUCCESS").write_bytes(b"")
    (index / "part-1.parquet").write_bytes(b"z" * 120)
    written, files = metrics.written_since([str(tmp_path / "sink"), str(tmp_path / "index")], since)
    assert (written, files) == (420, 3)


def test_written_bytes_per_input_byte_on_a_known_directory(tmp_path):
    from perfbench import datagen

    datagen.generate(2, str(tmp_path / "data"))
    input_bytes = datagen.table_bytes(str(tmp_path / "data"), ["documents"])
    assert input_bytes == os.path.getsize(tmp_path / "data" / "documents.parquet")
    out = tmp_path / "sink"
    out.mkdir()
    (out / "part-0.parquet").write_bytes(b"a" * (input_bytes // 4))
    written, _ = metrics.written_since([str(out)], 0)
    assert written / input_bytes == pytest.approx(0.25, abs=1 / input_bytes)


def test_peak_rss_of_this_process_is_positive():
    tree = metrics.process_tree(os.getpid())
    assert tree[0] == os.getpid()
    metrics.reset_peak_rss(tree)
    assert metrics.peak_rss_bytes(tree) > 0
