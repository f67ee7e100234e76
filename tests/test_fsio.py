"""Direct contract tests for the fsio Hadoop-FileSystem helpers.

These pin the primitive contracts a marker-committed state protocol
leans on -- especially the edge behaviors a refactor could silently
change (listing a missing dir is [], delete of a missing path is a
no-op, create_marker is create-if-absent) -- against the local
filesystem the suite runs on.
"""

import pytest


@pytest.fixture()
def fsio():
    from financialtransactionmonitoringsystem_spark import fsio as m
    return m


def test_roundtrip_and_existence(spark, fsio, tmp_path):
    p = f"{tmp_path}/sub/deep/_CORPUS"
    assert not fsio.exists(spark, p)
    fsio.write_text(spark, p, "fingerprint-1\n")  # creates parents
    assert fsio.exists(spark, p)
    assert fsio.read_text(spark, p) == "fingerprint-1\n"
    # overwrite semantics (the corpus marker is write-once by
    # convention, but the primitive itself overwrites)
    fsio.write_text(spark, p, "fingerprint-2\n")
    assert fsio.read_text(spark, p) == "fingerprint-2\n"


def test_marker_is_create_if_absent_and_idempotent(spark, fsio, tmp_path):
    m = f"{tmp_path}/gen=1/_COMMITTED"
    fsio.create_marker(spark, m)
    assert fsio.exists(spark, m)
    fsio.create_marker(spark, m)  # second create is a no-op, not an error
    assert fsio.read_text(spark, m) == ""


def test_list_names_missing_dir_is_empty(spark, fsio, tmp_path):
    assert fsio.list_names(spark, f"{tmp_path}/nope") == []
    fsio.create_marker(spark, f"{tmp_path}/d/a")
    fsio.create_marker(spark, f"{tmp_path}/d/b")
    assert sorted(fsio.list_names(spark, f"{tmp_path}/d")) == ["a", "b"]


def test_delete_recursive_and_missing_noop(spark, fsio, tmp_path):
    fsio.create_marker(spark, f"{tmp_path}/t/__epoch=0/part")
    fsio.delete(spark, f"{tmp_path}/t/__epoch=0")
    assert not fsio.exists(spark, f"{tmp_path}/t/__epoch=0")
    fsio.delete(spark, f"{tmp_path}/t/__epoch=0")  # no-op, no error


def test_read_text_missing_raises(spark, fsio, tmp_path):
    with pytest.raises(Exception):
        fsio.read_text(spark, f"{tmp_path}/absent")
