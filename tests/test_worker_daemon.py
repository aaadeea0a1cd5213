"""The worker daemon's zip-directory invalidation re-reads an archive
only after the file changed (worker_daemon.invalidate_caches)."""

import zipfile
import zipimport

from osm_replication_rust_spark import worker_daemon


def _write(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_directory_reread_only_after_rewrite(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write(archive, ["mod_a"])
    importer = zipimport.zipimporter(str(archive))
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p)
    )

    def invalidate_and_find(name):
        # an import after the invalidation is where a lazy re-read happens
        worker_daemon.invalidate_caches(importer)
        return importer.find_spec(name)

    assert invalidate_and_find("mod_a") is not None  # no stamp yet: one read
    assert len(reads) == 1
    for _ in range(5):
        assert invalidate_and_find("mod_a") is not None
    assert len(reads) == 1

    _write(archive, ["mod_a", "mod_b"])
    assert invalidate_and_find("mod_b") is not None
    assert len(reads) == 2
    assert invalidate_and_find("mod_b") is not None
    assert len(reads) == 2
