"""The lakefs seam: stdlib fast path and pyarrow URI path.

The ArrowLakeFS tests run against ``file://`` URIs — same code path
(`pyarrow.fs.FileSystem.from_uri` → FileInfo / streams) as
``s3://``/``gs://``, no bucket required.
"""

import os

from dbm_nca_ph_etl_spark.sources.lakefs import (
    ArrowLakeFS,
    PosixLakeFS,
    get_fs,
    join,
)


class TestPosix:
    def test_roundtrip_ls_size(self, tmp_path):
        fs = PosixLakeFS()
        d = str(tmp_path / "lake")
        fs.mkdirs(d)
        fs.write_bytes(os.path.join(d, "a.html"), b"<a href='x'>x</a>")
        fs.write_bytes(os.path.join(d, "b.txt"), b"nope")
        assert fs.exists(os.path.join(d, "a.html"))
        assert fs.size(os.path.join(d, "b.txt")) == 4
        assert fs.ls(d, suffixes=(".html",)) == [os.path.join(d, "a.html")]
        assert fs.read_bytes(os.path.join(d, "a.html")).startswith(b"<a ")
        # atomic publish: no tmp residue
        assert not [f for f in os.listdir(d) if ".tmp." in f]

    def test_ls_single_file(self, tmp_path):
        f = tmp_path / "one.html"
        f.write_text("x")
        assert PosixLakeFS().ls(str(f)) == [str(f)]

    def test_ls_missing_path_is_empty_not_phantom(self, tmp_path):
        # a typo'd table dir must list as [], never as a phantom
        # single entry that a downstream spark.read would choke on
        assert PosixLakeFS().ls(str(tmp_path / "nope")) == []
        assert ArrowLakeFS().ls(f"file://{tmp_path}/nope") == []

    def test_ls_single_file_respects_suffix_filter(self, tmp_path):
        f = tmp_path / "one.html"
        f.write_text("x")
        assert PosixLakeFS().ls(str(f), suffixes=(".pdf",)) == []
        assert PosixLakeFS().ls(str(f), suffixes=(".html",)) == [str(f)]
        uri = f"file://{tmp_path}/one.html"
        assert ArrowLakeFS().ls(uri, suffixes=(".pdf",)) == []
        assert ArrowLakeFS().ls(uri, suffixes=(".html",)) == [uri]

    def test_file_scheme_spellings_read_the_same_bytes(self, tmp_path, monkeypatch):
        """A bare path, Spark's ``file:/…`` spelling (a binaryFile
        scan's ``path`` column) and a ``file:///…`` URI reach the same
        file through get_fs, for reads and for ``mkdirs``,
        ``write_bytes``, ``exists`` and ``ls``. The ``file:/`` spelling
        stays on the stdlib path, so a space or a ``%20`` in a name is
        read as it is on disk. Listings keep the caller's spelling, and
        nothing lands in a literal ``file:`` directory under the
        working directory."""
        cwd = tmp_path / "cwd"
        cwd.mkdir()
        monkeypatch.chdir(cwd)
        names = ("plain.pdf", "NCA 2024.pdf", "a%20b.pdf")
        for name in names:
            (tmp_path / name).write_bytes(name.encode())
        for name in names:
            bare = str(tmp_path / name)
            for p in (bare, "file:" + bare):
                assert isinstance(get_fs(p), PosixLakeFS)
                assert get_fs(p).read_bytes(p) == name.encode()
        uri = f"file://{tmp_path}/plain.pdf"
        assert get_fs(uri).read_bytes(uri) == b"plain.pdf"
        # a URI cannot carry a raw space; the stdlib spellings can
        for i, (scheme, name) in enumerate(
            (("", "NCA 2024.pdf"), ("file:", "NCA 2024.pdf"), ("file://", "plain.pdf"))
        ):
            disk = tmp_path / f"lake{i}" / "sub"
            d = f"{scheme}{disk}"
            fs = get_fs(d)
            fs.mkdirs(d)
            fs.write_bytes(join(d, name), b"x")
            assert (disk / name).read_bytes() == b"x"
            assert fs.exists(join(d, name))
            assert not fs.exists(join(d, "missing.pdf"))
            assert fs.ls(d, suffixes=(".pdf",)) == [join(d, name)]
            assert fs.ls_dirs(f"{scheme}{disk.parent}") == [d]
        assert os.listdir(cwd) == []


class TestArrowUri:
    def test_roundtrip_over_file_uri(self, tmp_path):
        fs = ArrowLakeFS()
        base = f"file://{tmp_path}/bucket"
        fs.mkdirs(base)
        fs.write_bytes(join(base, "doc.pdf"), b"%PDF-1.4 fake")
        assert fs.exists(join(base, "doc.pdf"))
        assert not fs.exists(join(base, "missing.pdf"))
        assert fs.size(join(base, "doc.pdf")) == 13
        assert fs.read_bytes(join(base, "doc.pdf")) == b"%PDF-1.4 fake"
        # listings come back as full URIs, suffix-filtered, sorted
        fs.write_bytes(join(base, "page.html"), b"<html></html>")
        got = fs.ls(base, suffixes=(".html",))
        assert got == [f"file://{tmp_path}/bucket/page.html"]
        assert not fs.is_dir(join(base, "doc.pdf")) and fs.is_dir(base)

    def test_ls_roundtrips_bucket_in_path_uris(self, tmp_path):
        """For s3://-style stores, from_uri returns paths that ALREADY
        include the bucket ('bucket/dir/file'); ls must not re-attach
        scheme://bucket in front of them (s3://bucket/bucket/...).
        Simulated with a SubTree resolver whose resolved paths carry
        the bucket segment, exactly like pyarrow's S3/GCS handlers."""
        from pyarrow import fs as pafs

        (tmp_path / "bucket" / "dir").mkdir(parents=True)
        (tmp_path / "bucket" / "dir" / "a.pdf").write_bytes(b"%PDF a")
        (tmp_path / "bucket" / "dir" / "b.pdf").write_bytes(b"%PDF b")

        class _BucketStyleFS(ArrowLakeFS):
            def _resolve(self, path):
                # mock://bucket/dir -> (subtree fs, "bucket/dir"):
                # the bucket stays IN the resolved path, as with S3
                assert path.startswith("mock://")
                return (
                    pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem()),
                    path[len("mock://"):],
                )

        fs = _BucketStyleFS()
        got = fs.ls("mock://bucket/dir", suffixes=(".pdf",))
        assert got == ["mock://bucket/dir/a.pdf", "mock://bucket/dir/b.pdf"]
        # the listing round-trips: each URI is readable as returned
        assert fs.read_bytes(got[0]) == b"%PDF a"
        assert fs.size(got[1]) == 6
        # the sized listing and the directory listing rebuild the same
        # URIs, and each round-trips the same way
        assert fs.ls_with_sizes("mock://bucket/dir", suffixes=(".pdf",)) == [
            ("mock://bucket/dir/a.pdf", 6),
            ("mock://bucket/dir/b.pdf", 6),
        ]
        assert fs.ls_dirs("mock://bucket") == ["mock://bucket/dir"]
        assert fs.ls(fs.ls_dirs("mock://bucket")[0]) == got

    def test_resolution_and_join(self):
        assert isinstance(get_fs("/plain/path"), PosixLakeFS)
        assert isinstance(get_fs("s3://bucket/key"), ArrowLakeFS)
        override = PosixLakeFS()
        assert get_fs("s3://bucket/key", override) is override
        assert join("s3://b/prefix", "f.pdf") == "s3://b/prefix/f.pdf"
