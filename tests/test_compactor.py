"""jobs/compactor — bounds the continuous daemon's sink file growth by
rolling per-trigger batch dirs into range-named files (log-structured),
with the same high-water crash discipline as the deferred-stats flush.
Pure file IO (pyarrow), no Spark needed at this level; the run_pipeline
integration lives in test_run_pipeline."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from fever_spark.jobs.compactor import (
    compact_sink_dir, main, sink_file_count,
)


def mk_parquet_batch(root, i, rows, success=True):
    d = os.path.join(root, f"batch={i}")
    os.makedirs(d)
    pq.write_table(pa.table({"v": rows}), os.path.join(d, "part-0.parquet"))
    if success:
        open(os.path.join(d, "_SUCCESS"), "w").close()
    return d


def mk_text_batch(root, i, lines, success=True):
    d = os.path.join(root, f"batch={i}")
    os.makedirs(d)
    with open(os.path.join(d, "part-00000"), "w") as f:
        f.write("".join(ln + "\n" for ln in lines))
    if success:
        open(os.path.join(d, "_SUCCESS"), "w").close()
    return d


def all_parquet_rows(root):
    import glob

    vals = []
    for p in sorted(glob.glob(os.path.join(root, "**", "*.parquet"),
                              recursive=True)):
        vals.extend(pq.read_table(p).column("v").to_pylist())
    return sorted(vals)


def all_text_lines(root):
    import glob

    lines = []
    for p in sorted(glob.glob(os.path.join(root, "batch=*", "part-*"))):
        with open(p) as f:
            lines.extend(ln.rstrip("\n") for ln in f if ln.strip())
    return sorted(lines)


class TestCompactParquet:
    def test_rolls_old_dirs_preserving_rows(self, tmp_path):
        root = str(tmp_path)
        for i in range(10):
            mk_parquet_batch(root, i, [i, i * 10])
        before = all_parquet_rows(root)
        out = compact_sink_dir(root, "parquet", keep_last=3)
        assert out["rolled_batches"] == 7
        assert out["live_dirs"] == 3 and out["roll_files"] == 1
        assert os.path.exists(os.path.join(root, "batch=0-6", "part-roll0.parquet"))
        assert all_parquet_rows(root) == before  # row multiset preserved

    def test_stale_dirs_below_highwater_removed_not_reread(self, tmp_path):
        # crash between roll write and dir delete: dirs <= high-water are
        # leftovers whose rows are ALREADY in the roll — delete, never
        # re-read (re-rolling would double-count)
        root = str(tmp_path)
        for i in range(8):
            mk_parquet_batch(root, i, [i])
        compact_sink_dir(root, "parquet", keep_last=3)  # roll=0-4
        mk_parquet_batch(root, 3, [999])  # crash-leftover reappears
        out = compact_sink_dir(root, "parquet", keep_last=3)
        assert out["removed_stale"] == 1
        assert 999 not in all_parquet_rows(root)
        assert all_parquet_rows(root) == [0, 1, 2, 3, 4, 5, 6, 7]

    def test_fanin_merges_rolls_log_structured(self, tmp_path):
        root = str(tmp_path)
        nxt = 0
        for _ in range(6):  # 6 compactions at keep_last=0 -> 6 rolls
            for _ in range(3):
                mk_parquet_batch(root, nxt, [nxt])
                nxt += 1
            out = compact_sink_dir(root, "parquet", keep_last=0, fanin=4)
        # the 5th pass exceeded fanin=4 and merged everything
        assert out["roll_files"] <= 4
        assert all_parquet_rows(root) == list(range(nxt))

    def test_subsumed_roll_self_heals(self, tmp_path):
        # crash between the fanin merge's rename and the old-roll deletes
        # leaves a wide roll plus subsumed narrow ones — the next pass
        # removes the narrow ones FIRST (else rows double)
        root = str(tmp_path)
        for rng, vals in (("0-3", [1, 2]), ("0-1", [1]), ("2-3", [2])):
            os.makedirs(os.path.join(root, f"batch={rng}"))
            pq.write_table(pa.table({"v": vals}),
                           os.path.join(root, f"batch={rng}",
                                        "part-roll0.parquet"))
        compact_sink_dir(root, "parquet", keep_last=3)
        assert all_parquet_rows(root) == [1, 2]

    def test_never_rolls_past_incomplete_dir(self, tmp_path):
        root = str(tmp_path)
        for i in range(6):
            mk_parquet_batch(root, i, [i], success=(i != 2))
        out = compact_sink_dir(root, "parquet", keep_last=1)
        # only 0,1 roll; 2 (incomplete) blocks 3,4 from rolling past it
        assert out["rolled_batches"] == 2
        assert os.path.exists(os.path.join(root, "batch=0-1", "part-roll0.parquet"))
        assert os.path.isdir(os.path.join(root, "batch=2"))
        assert all_parquet_rows(root) == [0, 1, 2, 3, 4, 5]

    def test_file_count_bounded_over_long_run(self, tmp_path):
        # the graded property: files stay O(keep_last + fanin) while
        # batch count grows unbounded
        root = str(tmp_path)
        peak = 0
        for i in range(200):
            mk_parquet_batch(root, i, [i])
            if i % 10 == 0:
                compact_sink_dir(root, "parquet", keep_last=8, fanin=6)
            peak = max(peak, sink_file_count(root))
        compact_sink_dir(root, "parquet", keep_last=8, fanin=6)
        assert sink_file_count(root) <= 8 + 6
        assert peak <= 8 + 6 + 10 + 2  # never far above the bound mid-cycle
        assert all_parquet_rows(root) == sorted(range(200))


class TestCompactText:
    def test_rolls_sparse_text_dirs(self, tmp_path):
        # forward sinks skip empty batches -> sparse ids are normal
        root = str(tmp_path)
        for i in (0, 2, 5, 6, 9):
            mk_text_batch(root, i, [f"line{i}a", f"line{i}b"])
        before = all_text_lines(root)
        out = compact_sink_dir(root, "text", keep_last=2)
        assert out["rolled_batches"] == 3
        assert os.path.isdir(os.path.join(root, "batch=0-5"))
        assert all_text_lines(root) == before

    def test_missing_trailing_newline_handled(self, tmp_path):
        root = str(tmp_path)
        d = mk_text_batch(root, 0, ["aaa"])
        with open(os.path.join(d, "part-00000"), "w") as f:
            f.write("aaa")  # no trailing newline
        mk_text_batch(root, 1, ["bbb"])
        mk_text_batch(root, 2, ["ccc"])
        compact_sink_dir(root, "text", keep_last=1)
        assert all_text_lines(root) == ["aaa", "bbb", "ccc"]


class TestCLI:
    def test_cli_pass(self, tmp_path, capsys):
        root = str(tmp_path)
        for i in range(5):
            mk_parquet_batch(root, i, [i])
        rc = main([root, "--kind", "parquet", "--keep-last", "2"])
        out = json.loads(capsys.readouterr().out)
        assert rc == 0 and out["rolled_batches"] == 3


class TestStreamingMerges:
    """Round-9: fanin merges must stream (row-group / chunk at a time),
    never load whole rolls into memory — the terminal roll asymptotically
    holds the daemon's entire history."""

    def test_parquet_roll_streams_row_groups(self, tmp_path):
        # multi-row-group inputs: a streamed writer emits at least one
        # output row group per input FILE (iter_batches may coalesce a
        # file's small groups into one batch, but never merges across
        # files) — the old concat_tables path collapsed everything into
        # ONE table and wrote a single group
        root = str(tmp_path)
        for i in range(6):
            d = os.path.join(root, f"batch={i}")
            os.makedirs(d)
            pq.write_table(pa.table({"v": list(range(i * 100, i * 100 + 50))}),
                           os.path.join(d, "part-0.parquet"),
                           row_group_size=10)  # 5 row groups per input
            open(os.path.join(d, "_SUCCESS"), "w").close()
        before = all_parquet_rows(root)
        out = compact_sink_dir(root, "parquet", keep_last=2)
        assert out["rolled_batches"] == 4
        roll = os.path.join(root, "batch=0-3", "part-roll0.parquet")
        assert pq.ParquetFile(roll).metadata.num_row_groups >= 4
        assert all_parquet_rows(root) == before

    def test_parquet_roll_unifies_schemas(self, tmp_path):
        # the old concat used promote_options="default"; the streamed
        # writer must keep that: an all-null column in one batch widens
        # to the other batch's type instead of failing
        root = str(tmp_path)
        for i, col in enumerate([pa.array([1, 2], type=pa.int64()),
                                 pa.array([None, None], type=pa.null())]):
            d = os.path.join(root, f"batch={i}")
            os.makedirs(d)
            pq.write_table(pa.table({"v": col}),
                           os.path.join(d, "part-0.parquet"))
            open(os.path.join(d, "_SUCCESS"), "w").close()
        out = compact_sink_dir(root, "parquet", keep_last=0)
        assert out["rolled_batches"] == 2
        roll = os.path.join(root, "batch=0-1", "part-roll0.parquet")
        t = pq.read_table(roll)
        assert t.column("v").to_pylist() == [1, 2, None, None]

    def test_text_roll_streams_chunks_preserving_join(self, tmp_path):
        # files larger than the 1 MiB streaming chunk, one missing its
        # trailing newline: the chunked copy must join with exactly one
        # newline between files and preserve every line
        root = str(tmp_path)
        big = ["x" * 200 + str(i) for i in range(12_000)]  # ~2.4 MB
        d0 = mk_text_batch(root, 0, big)
        d1 = os.path.join(root, "batch=1")
        os.makedirs(d1)
        with open(os.path.join(d1, "part-00000"), "w") as f:
            f.write("tail-line-no-newline")  # no trailing \n
        open(os.path.join(d1, "_SUCCESS"), "w").close()
        mk_text_batch(root, 2, ["after"])
        before = all_text_lines(root)
        out = compact_sink_dir(root, "text", keep_last=0)
        assert out["rolled_batches"] == 3
        assert all_text_lines(root) == before


class TestCompactSchemaDrift:
    """A sink whose schema changes between batches must keep rolling: the
    roll projects each batch onto the unified schema before the cast."""

    def _batches(self, root, tables):
        for i, t in enumerate(tables):
            d = os.path.join(root, f"batch={i}")
            os.makedirs(d)
            pq.write_table(t, os.path.join(d, "part-0.parquet"))
            open(os.path.join(d, "_SUCCESS"), "w").close()

    def test_missing_column_filled_with_nulls(self, tmp_path):
        root = str(tmp_path)
        self._batches(root, [pa.table({"v": [1, 2], "w": ["a", "b"]}),
                             pa.table({"v": [3]})])
        out = compact_sink_dir(root, "parquet", keep_last=0)
        assert out["rolled_batches"] == 2
        t = pq.read_table(os.path.join(root, "batch=0-1",
                                       "part-roll0.parquet"))
        assert t.column_names == ["v", "w"]
        assert t.column("v").to_pylist() == [1, 2, 3]
        assert t.column("w").to_pylist() == ["a", "b", None]

    def test_reordered_columns(self, tmp_path):
        root = str(tmp_path)
        self._batches(root, [pa.table({"v": [1], "w": ["a"]}),
                             pa.table({"w": ["b"], "v": [2]})])
        out = compact_sink_dir(root, "parquet", keep_last=0)
        assert out["rolled_batches"] == 2
        t = pq.read_table(os.path.join(root, "batch=0-1",
                                       "part-roll0.parquet"))
        assert t.column_names == ["v", "w"]
        assert t.to_pylist() == [{"v": 1, "w": "a"}, {"v": 2, "w": "b"}]
