"""The PySpark daemon get_spark starts: reused Python workers re-read a
zip's directory only when the archive changed."""

import importlib
import importlib.util
import os
import sys
import zipfile
import zipimport

from data_pipeline_standalone_scripts_spark import session


def _load_daemon():
    path = os.path.join(session._DAEMON_DIR, "graft_daemon.py")
    spec = importlib.util.spec_from_file_location("graft_daemon_under_test", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # not as __main__: installs nothing
    return mod


def _write_zip(path, names):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name in names:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    original = (zipimport._read_directory, zipimport.zipimporter.invalidate_caches)
    daemon = _load_daemon()
    assert (zipimport._read_directory, zipimport.zipimporter.invalidate_caches) == original

    reads = []

    def counting(path):
        reads.append(path)
        return daemon.read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches
    )
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["graft_zmod_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("graft_zmod_a", "graft_zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("graft_zmod_a").NAME == "graft_zmod_a"
    assert reads.count(archive) == 1
    importlib.invalidate_caches()  # unchanged: the cached directory stays
    assert reads.count(archive) == 1

    _write_zip(archive, ["graft_zmod_a", "graft_zmod_b"])
    importlib.invalidate_caches()  # replaced: read again
    assert reads.count(archive) == 2
    assert importlib.import_module("graft_zmod_b").NAME == "graft_zmod_b"

    monkeypatch.undo()
    assert (zipimport._read_directory, zipimport.zipimporter.invalidate_caches) == original


def test_reused_worker_skips_zip_rereads(spark):
    """A task served by a reused worker reads no zip directory before
    its kernel runs (the stock daemon re-reads one per zipimporter)."""

    def reads_since_last_task(batches):
        import os
        import zipimport

        import pandas as pd

        counter = getattr(zipimport, "_graft_test_reads", None)
        if counter is None:  # first task in this worker: start counting
            counter = zipimport._graft_test_reads = [0]
            read = zipimport._read_directory

            def counting(path):
                counter[0] += 1
                return read(path)

            zipimport._read_directory = counting
            reads = -1
        else:
            reads = counter[0]
        for _ in batches:
            pass
        counter[0] = 0
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [reads]})

    probe = spark.range(1, numPartitions=1).mapInPandas(
        reads_since_last_task, "pid long, reads long"
    )
    seen = {}
    for _ in range(16):  # idle workers are served in turn
        row = probe.collect()[0]
        if row["pid"] in seen:
            assert row["reads"] == 0
            return
        seen[row["pid"]] = row["reads"]
    raise AssertionError(f"no Python worker was reused: {seen}")
