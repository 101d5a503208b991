"""Crash injection for MorTable that does not depend on its layout.

``crash_at(monkeypatch, k)`` makes the k-th filesystem mutation that
``sync/table_store.py`` runs from Python raise ``Crash`` instead of
running. The mutations are ``os.rename``, ``os.replace``, ``os.link``,
``os.unlink``, ``os.remove``, ``shutil.rmtree`` and opening a file for
writing. Spark's own writes run in the JVM and are not counted, so a
crash lands between them.

``check_every_crash`` runs a table call once per mutation it makes,
crashing at each in turn. After each crash the table, reopened as a
restarted process would, must read as it did before the call or as a
crash-free run leaves it. Where it reads as before, retrying the call
must reach the crash-free result; where it reads as after, the call had
committed and a retry would be a second call, which must change nothing
for an idempotent call (a compaction)."""

from __future__ import annotations

import builtins
import os
import shutil
from contextlib import contextmanager

from mongodb_iceberg_sync_spark.sync import table_store
from mongodb_iceberg_sync_spark.sync.table_store import SnapshotExpiredError


class Crash(RuntimeError):
    pass


class _Proxy:
    """A module whose named functions are replaced."""

    def __init__(self, module, **fns):
        self._module = module
        self.__dict__.update(fns)

    def __getattr__(self, name):
        return getattr(self._module, name)


@contextmanager
def crash_at(monkeypatch, k: int):
    """Within the block the k-th mutation raises Crash; yields the list
    of mutations seen so far."""
    seen: list[str] = []

    def counted(name, fn):
        def call(*args, **kw):
            seen.append(name)
            if len(seen) == k:
                raise Crash(f"injected at mutation {k} ({name})")
            return fn(*args, **kw)

        return call

    def _open(file, mode="r", *args, **kw):
        fn = counted("open", builtins.open) if set(mode) & set("wax+") else builtins.open
        return fn(file, mode, *args, **kw)

    names = ("rename", "replace", "link", "unlink", "remove")
    fake_os = _Proxy(os, **{n: counted(n, getattr(os, n)) for n in names})
    fake_shutil = _Proxy(shutil, rmtree=counted("rmtree", shutil.rmtree))
    with monkeypatch.context() as mp:
        mp.setattr(table_store, "os", fake_os)
        mp.setattr(table_store, "shutil", fake_shutil)
        mp.setattr(table_store, "open", _open, raising=False)
        yield seen


def rows(t, **kw):
    """The snapshot's rows, sorted; "expired" where time travel refuses."""
    try:
        snap = t.snapshot(**kw)
    except SnapshotExpiredError:
        return "expired"
    return sorted(map(tuple, snap.collect())) if snap is not None else []


def reopen(t):
    return type(t)(t.spark, t.path, key=t.key)


def check_every_crash(monkeypatch, template, work, call, read, idempotent=False) -> int:
    """Copy the table at ``template`` into ``work/<k>`` and run ``call`` on
    it, failing at mutation k, for k = 1, 2, ... until the call makes
    fewer than k mutations; ``read(table)`` describes what a reader
    sees. With ``idempotent``, a retry of a call that crashed past its
    commit point must leave the table reading as it does. Returns the
    number of crash points checked."""

    def copy(name):
        return type(template)(
            template.spark, shutil.copytree(template.path, f"{work}/{name}"), key=template.key
        )

    before = read(reopen(template))
    clean = copy("clean")
    call(clean)
    want = read(reopen(clean))
    k = 0
    while True:
        k += 1
        t = copy(k)
        try:
            with crash_at(monkeypatch, k) as seen:
                call(t)
        except Crash:
            pass
        else:
            assert len(seen) < k
            assert read(reopen(t)) == want
            return k - 1
        got = read(reopen(t))
        assert got in (before, want), f"crash at mutation {k} ({seen[-1]}): {got}"
        if got == before or idempotent:  # before the commit point, or a no-op
            retried = reopen(t)
            call(retried)
            assert read(reopen(retried)) == want, f"retry after a crash at mutation {k}"
