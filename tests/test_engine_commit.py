"""Crash consistency of the engine's one write path, Engine._commit.

Each case runs one statement, raising at every filesystem step of it in
turn: the journal create (that is, after the staging write), each move
of a staged file, each delete of an old file, the SNAPSHOT manifest and
the journal delete. The raise stands in for a killed process. A new
Engine then opens the warehouse, and the table must equal the model of
it before the statement or the model after it, with no journal or
staging directory left behind.
"""

import os
import shutil

import pytest

from sparrow_spark.engine import Engine

# name -> (CREATE TABLE, statements that fill it, the statement killed)
CASES = {
    "plain": (
        "CREATE TABLE t (id INT, v INT, PRIMARY KEY(id))",
        ["INSERT INTO t VALUES (1, 10), (2, 20)", "INSERT INTO t VALUES (3, 30), (4, 40)"],
        "MERGE INTO t USING (SELECT 2 AS id, 99 AS v UNION ALL SELECT 3, 98 "
        "UNION ALL SELECT 7, 70) s ON t.id = s.id WHEN MATCHED THEN UPDATE "
        "SET v = s.v WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)",
    ),
    "partitioned": (
        "CREATE TABLE t (id INT, g CHAR, v INT, PRIMARY KEY(id)) PARTITIONED BY (g)",
        ["INSERT INTO t VALUES (1, 'a', 10), (2, 'b', 20)",
         "INSERT INTO t VALUES (3, 'a', 30), (4, 'c', 40)"],
        "UPDATE t SET g = 'b', v = v + 1 WHERE g = 'a'",
    ),
    "snapshot": (
        "CREATE TABLE t (id INT, v INT, PRIMARY KEY(id)) ENGINE=SNAPSHOT",
        ["INSERT INTO t VALUES (1, 10), (2, 20)", "INSERT INTO t VALUES (3, 30)"],
        "REPLACE INTO t VALUES (1, 11), (3, 33), (5, 55)",
    ),
    "truncate": (
        "CREATE TABLE t (id INT, g CHAR, v INT) PARTITIONED BY (g)",
        ["INSERT INTO t VALUES (1, 'a', 10), (2, 'b', 20)", "INSERT INTO t VALUES (3, 'a', 30)"],
        "TRUNCATE TABLE t",
    ),
    "drop_column": (
        "CREATE TABLE t (id INT, v INT, w INT, PRIMARY KEY(id)) ENGINE=SNAPSHOT",
        ["INSERT INTO t VALUES (1, 10, 100), (2, 20, 200)", "INSERT INTO t VALUES (3, 30, 300)"],
        "ALTER TABLE t DROP COLUMN w",
    ),
}


class Killed(Exception):
    pass


class _Faults:
    """Wraps the os calls a commit makes; the k-th one on a path under
    `root` raises Killed before it acts (k=None only counts). The
    staging directory's own removal is left out: shutil.rmtree swallows
    errors, and by then every staged file has moved."""

    NAMES = ("open", "rename", "remove", "rmdir", "link")

    def __init__(self, monkeypatch, root: str, k=None):
        self.root, self.k, self.calls = root, k, []
        for name in self.NAMES:
            monkeypatch.setattr(os, name, self._wrap(name, getattr(os, name)))

    def _wrap(self, name, real):
        def call(path, *args, **kwargs):
            if (
                isinstance(path, str)
                and path.startswith(self.root)
                and not os.path.basename(path).startswith(".staging-")
            ):
                self.calls.append((name, os.path.basename(path)))
                if len(self.calls) - 1 == self.k:
                    raise Killed(f"killed at {name} {path}")
            return real(path, *args, **kwargs)

        return call


def _state(engine) -> tuple:
    """The table as a reader sees it: column names and sorted rows."""
    cols = [r.Field for r in engine.sql("SHOW COLUMNS FROM d.t").rows()]
    rows = engine.sql(f"SELECT {', '.join(cols)} FROM d.t").rows()
    return tuple(cols), sorted(tuple(r) for r in rows)


def _versions(engine) -> list[int]:
    tdef = engine.catalog.load("d", "t")
    return engine._snap_versions("d", "t") if tdef.engine == "snapshot" else []


@pytest.mark.parametrize("case", sorted(CASES))
def test_killed_commit_leaves_old_or_new_table(spark, tmp_path, monkeypatch, case):
    ddl, fill, stmt = CASES[case]
    base = str(tmp_path / "base")
    engine = Engine(spark, base)
    for s in ["CREATE DATABASE d", "USE d", ddl, *fill]:
        engine.sql(s)
    before, versions_before = _state(engine), _versions(engine)

    def open_copy(name):
        wh = str(tmp_path / name)
        shutil.copytree(base, wh)
        eng = Engine(spark, wh)
        eng.sql("USE d")
        return wh, eng, eng.catalog.table_path("d", "t")

    _, eng, table_dir = open_copy("ref")
    with monkeypatch.context() as mp:
        steps = _Faults(mp, table_dir).calls
        eng.sql(stmt)
    after, versions_after = _state(eng), _versions(eng)
    assert after != before
    names = [n for n, _ in steps]
    assert ("open", ".commit.json") in steps and ("remove", ".commit.json") in steps
    assert "rename" in names or "remove" in names

    for k, step in enumerate(steps):
        wh, eng, table_dir = open_copy(f"kill{k}")
        with monkeypatch.context() as mp:
            _Faults(mp, table_dir, k)
            with pytest.raises(Killed):
                eng.sql(stmt)
        reopened = Engine(spark, wh)
        got = _state(reopened)
        assert got in (before, after), f"{case}: killed at {step}: {got}"
        left = [n for n in os.listdir(table_dir) if n == ".commit.json" or n.startswith(".staging-")]
        assert not left, f"{case}: killed at {step}: left {left}"
        versions = _versions(reopened)
        want = versions_before if got == before else versions_after
        assert versions == want, f"{case}: killed at {step}: versions {versions}"
        if versions:
            manifest = reopened._snap_manifest("d", "t", versions[-1])
            assert manifest["files"] == reopened._all_files("d", "t")
