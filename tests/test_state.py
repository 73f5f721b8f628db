"""Session state has one owner (``query_optimizer_spark.state``): scopes
per (application, sf_dir), one lifetime rule, copies for readers, and no
other module-level mutable container in the package.  Spark-free: the
fakes carry only ``sparkContext.applicationId`` and record ``unpersist``."""

import importlib
import pkgutil
from types import SimpleNamespace

import pytest

import query_optimizer_spark
from query_optimizer_spark import state
from query_optimizer_spark.state import evidence, scope


def fake_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


class FakeFrame:
    def __init__(self, cached: bool = True):
        self.is_cached = cached
        self.unpersisted = []

    def unpersist(self, blocking: bool = False):
        self.unpersisted.append(blocking)
        self.is_cached = False
        return self


@pytest.fixture(autouse=True)
def isolated_state():
    """Run each test on an empty store and hand the live one back after,
    so a Spark session's scopes in the same process are untouched."""
    saved = state._live.copy()
    state._live.clear()
    yield
    state._live.clear()
    state._live.update(saved)


def test_scopes_are_per_application_and_sf_dir():
    a = fake_spark("app-a")
    x = scope(a, "/data/x")
    assert scope(a, "/data/x/") is x
    assert scope(a, "/data/x") is x
    assert scope(a, "/data/y") is not x
    x["rec"] = {"n": 1}
    assert scope(a, "/data/y") == {}
    assert evidence(a, "/data/x/", "rec") == {"n": 1}


def test_new_application_drops_every_old_scope():
    a, b = fake_spark("app-a"), fake_spark("app-b")
    frame = FakeFrame()
    scope(a, "/data/x")["frames"] = [frame]
    scope(a, "/data/y")["rec"] = {"n": 1}
    assert scope(b, "/data/x") == {}
    assert evidence(b, "/data/y", "rec") == {}
    # the old context is gone with its caches: nothing to unpersist
    assert frame.unpersisted == []
    # and the old application's state does not come back
    assert scope(a, "/data/x") == {}


def test_at_most_SCOPES_sf_dirs_least_recently_used_dropped_first():
    a = fake_spark("app-a")
    frames = {}
    plain = FakeFrame(cached=False)
    for i in range(state.SCOPES):
        frames[i] = FakeFrame()
        sc = scope(a, f"/data/{i}")
        sc["memo"] = {"df": frames[i], "rows": [1, 2]}
        sc["reads"] = {"/store": ("fingerprint", plain)}
    kept = scope(a, "/data/0")  # now the most recently used
    # /data/1 is the least recently used: the new scope drops it
    scope(a, "/data/new")["rec"] = {}
    assert scope(a, "/data/0") is kept
    assert frames[1].unpersisted == [False]
    assert plain.unpersisted == []  # never cached, nothing to release
    assert all(frames[i].unpersisted == [] for i in (0, 2, 3))
    assert "memo" not in scope(a, "/data/1")


def test_bound_holds_over_many_sf_dirs():
    a = fake_spark("app-a")
    frames = [FakeFrame() for _ in range(3 * state.SCOPES)]
    for i, f in enumerate(frames):
        scope(a, f"/data/{i}")["df"] = f
    assert len(state._live) == state.SCOPES
    released = [f for f in frames if f.unpersisted]
    assert released == frames[: -state.SCOPES]


def test_evidence_returns_a_copy():
    a = fake_spark("app-a")
    assert evidence(a, "/data/x", "missing") == {}
    scope(a, "/data/x")["rec"] = {"n": 1, "progress": {"rows": [1]}}
    ev = evidence(a, "/data/x", "rec")
    ev["n"] = 2
    ev["progress"]["rows"].append(2)
    ev["extra"] = 3
    assert scope(a, "/data/x")["rec"] == {"n": 1, "progress": {"rows": [1]}}
    miss = evidence(a, "/data/x", "other")
    miss["n"] = 1
    assert "other" not in scope(a, "/data/x")


# module-level dict / list / set objects the package may hold: constant
# tables, plus the one owner of session state
CONSTANT_TABLES = {
    "functions.constants.BM25_QUERIES",
    "functions.constants.FP_POWS",
    "functions.constants.MINHASH_A",
    "functions.constants.MINHASH_B",
    "functions.constants.MIX_WEIGHTS",
    "functions.constants.SAMPLE_RATES",
    "functions.constants.STOPWORDS",
    "functions.registry.PIPELINE_OPS",
    "functions.text._LANGS",
    "planners.PLANNERS",
    "sqlparse._AGG_FUNCS",
    "sqlparse._KEYWORDS",
    "sqlsurface.DERIVED_VIEWS_OF",
    "sqlsurface.SURFACE",
    "sqlsurface._DERIVED_SQL",
    "workload.FIXTURES",
    "workload.JOIN_QUERIES",
}
STATE_OWNER = "state._live"


def test_no_module_level_mutable_state_outside_state():
    prefix = query_optimizer_spark.__name__ + "."
    modules = [query_optimizer_spark] + [
        importlib.import_module(m.name)
        for m in pkgutil.walk_packages(query_optimizer_spark.__path__, prefix)
    ]
    names: dict[int, set[str]] = {}  # one object may be re-exported
    for mod in modules:
        short = mod.__name__.removeprefix(prefix)
        for attr, value in vars(mod).items():
            if isinstance(value, (dict, list, set)) and not attr.startswith("__"):
                names.setdefault(id(value), set()).add(f"{short}.{attr}")
    declared = CONSTANT_TABLES | {STATE_OWNER}
    undeclared = sorted(
        sorted(aliases) for aliases in names.values() if not aliases & declared
    )
    assert undeclared == [], (
        "module-level mutable containers outside query_optimizer_spark.state"
    )
    found = set().union(*names.values())
    assert declared <= found, sorted(declared - found)
