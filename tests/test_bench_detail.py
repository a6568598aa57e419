"""``bench.py`` keeps one detail file per core count and mirrors the
highest-core one into ``BENCH_DETAIL.json``, the file
``tools/bench_regression.py`` compares."""

import json


def test_per_core_detail_files_and_mirror(tmp_path):
    from bench import write_detail

    assert write_detail({"cpus": 8}, 8, tmp_path) == "BENCH_DETAIL_c8.json"
    assert json.loads((tmp_path / "BENCH_DETAIL.json").read_text()) == {"cpus": 8}
    # a higher-core run takes over the mirror ...
    assert write_detail({"cpus": 32}, 32, tmp_path) == "BENCH_DETAIL_c32.json"
    assert json.loads((tmp_path / "BENCH_DETAIL.json").read_text()) == {"cpus": 32}
    # ... and a later lower-core run keeps its own file without clobbering it
    write_detail({"cpus": 8, "rerun": True}, 8, tmp_path)
    assert json.loads((tmp_path / "BENCH_DETAIL_c8.json").read_text()) == {
        "cpus": 8, "rerun": True}
    assert json.loads((tmp_path / "BENCH_DETAIL.json").read_text()) == {"cpus": 32}
