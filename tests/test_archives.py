"""Archive source (sources/archives.py): tar / tar.gz / zip members."""

import pytest

from cmc_knowledge_graph_text2ttl_spark.sources.archives import _iter_members, read_archives
from fixture_writers import build_tar, build_zip

MEMBERS = [("a/x.txt", b"hello"), ("b.bin", bytes(range(256))), ("e", b"")]


class TestLocal:
    @pytest.mark.parametrize(
        "blob",
        [build_tar(MEMBERS), build_tar(MEMBERS, gz=True), build_zip(MEMBERS)],
        ids=["tar", "tgz", "zip"],
    )
    def test_roundtrip(self, blob):
        got = _iter_members(blob, 1 << 20)
        assert [(n, d) for n, d, e in got] == MEMBERS
        assert all(e is None for _, _, e in got)

    def test_fixtures_are_deterministic(self):
        assert build_tar(MEMBERS, gz=True) == build_tar(MEMBERS, gz=True)
        assert build_zip(MEMBERS) == build_zip(MEMBERS)

    def test_oversized_member_is_per_member_error(self):
        got = _iter_members(build_tar(MEMBERS), 100)
        by = {n: (d, e) for n, d, e in got}
        assert by["a/x.txt"] == (b"hello", None)
        assert by["b.bin"][0] is None and "exceeds" in by["b.bin"][1]

    def test_directories_skipped_in_zip(self):
        import io
        import zipfile

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("dir/", "")
            z.writestr("dir/f.txt", "x")
        got = _iter_members(buf.getvalue(), 1 << 20)
        assert [n for n, _, _ in got] == ["dir/f.txt"]

    def test_garbage_raises_value_error(self):
        with pytest.raises(ValueError, match="archive"):
            _iter_members(b"definitely not an archive " * 40, 1 << 20)


class TestSpark:
    def test_read_archives_mixed_formats_and_corrupt(self, spark, tmp_path):
        (tmp_path / "a.tar").write_bytes(build_tar(MEMBERS))
        (tmp_path / "b.tgz").write_bytes(build_tar(MEMBERS, gz=True))
        (tmp_path / "c.zip").write_bytes(build_zip(MEMBERS))
        (tmp_path / "bad.tar").write_bytes(b"corrupt " * 100)
        df = read_archives(spark, str(tmp_path))
        rows = df.collect()
        ok = [r for r in rows if r.error is None]
        bad = [r for r in rows if r.error is not None]
        assert len(ok) == 9  # 3 members x 3 archives
        assert {bytes(r.data) for r in ok if r.member == "b.bin"} == {
            bytes(range(256))
        }
        assert len(bad) == 1 and "bad.tar" in bad[0].archive_file
