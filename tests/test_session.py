"""Session factory side effects that outlive the process."""

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The package reaches the driver through sys.path only, and the child
# runs from the temp dir, so the worker-side import below can succeed
# only through the zip that _ship_package ships.
_CHILD = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {root!r})
    from data_pipeline_standalone_scripts_spark.session import get_spark

    spark = get_spark("zip-leak")

    def where(_):
        import data_pipeline_standalone_scripts_spark as pkg
        return pkg.__file__

    print(spark.sparkContext.parallelize([0], 1).map(where).collect()[0])
    """
)


def test_package_zip_removed_at_exit(tmp_path):
    """_ship_package writes the package zip into the temp dir; it must
    be gone once the process that shipped it exits."""
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        SPARK_GRAFT_CPUS="1",
        SPARK_DRIVER_MEMORY="1g",
    )
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD.format(root=ROOT)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert ".zip" in proc.stdout  # the worker imported the shipped zip
    assert not list(tmp_path.glob("*.zip"))
