"""``get_spark`` session configuration."""

import os
import subprocess
import sys

import pytest

import tests.conftest as C

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(not os.path.isdir(C.SF_DIR), reason="no testdata")
def test_python_workers_import_term_spark_from_another_directory(tmp_path):
    """A script that only ``sys.path.insert``s the repo and runs from
    another directory: the driver finds ``term_spark``, and the Python
    workers behind a ``mapInArrow`` query must find it too."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from term_spark.queries import QUERIES\n"
        "from term_spark.session import get_spark\n"
        "spark = get_spark('foreign_cwd', shuffle_partitions=1, master='local[1]')\n"
        f"rows = QUERIES['mg_heavy_hitters_docs'](spark, {C.SF_DIR!r}).collect()\n"
        "print('rows', len(rows))\n"
        "spark.stop()\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TERM_SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split()[-2:] == ["rows", "5"], proc.stdout


def test_scratch_dir_is_removed_on_exit_and_on_error(tmp_path, monkeypatch):
    import tempfile

    from term_spark.session import scratch_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with scratch_dir() as path:
        assert os.path.isdir(path)
        assert os.path.dirname(path) == str(tmp_path)
        assert os.path.basename(path).startswith("term_spark_")
        open(os.path.join(path, "shard"), "w").close()
    assert not os.path.exists(path)

    boom = RuntimeError("probe failed")
    with pytest.raises(RuntimeError) as raised:
        with scratch_dir() as path:
            os.mkdir(os.path.join(path, "index"))
            raise boom
    assert raised.value is boom
    assert not os.path.exists(path)
    assert os.listdir(tmp_path) == []


def test_broadcast_threshold_is_read_as_spark_parses_it(spark):
    """The MinHash merge-hint cutover reads the threshold Spark parsed:
    ``'64m'`` is 64 MiB (``int()`` of the string fell back to 10 MiB)
    and ``'-1'``, broadcast off, stays -1."""
    from term_spark.operators.dedup import _broadcast_threshold_bytes

    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key, None)
    with C.conf_override(spark, key, "64m"):
        assert _broadcast_threshold_bytes(spark) == 67108864
    with C.conf_override(spark, key, "-1"):
        assert _broadcast_threshold_bytes(spark) == -1
    assert spark.conf.get(key, None) == prior
