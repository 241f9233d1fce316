"""Default shuffle scratch: a per-user tmpfs dir, or Spark's own default
when tmpfs is missing or short of space."""

import os

from pyontutils_spark import session


def test_default_local_dir_is_per_user(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "MIN_TMPFS_FREE_BYTES", 0)
    assert session.default_local_dir(str(tmp_path)) == str(
        tmp_path / f"spark-graft-local-{os.getuid()}")


def test_default_local_dir_falls_back_when_short_of_space(tmp_path,
                                                         monkeypatch):
    st = os.statvfs(tmp_path)
    monkeypatch.setattr(session, "MIN_TMPFS_FREE_BYTES",
                        st.f_bavail * st.f_frsize + (1 << 30))
    assert session.default_local_dir(str(tmp_path)) is None


def test_default_local_dir_without_tmpfs(tmp_path):
    assert session.default_local_dir(str(tmp_path / "missing")) is None
