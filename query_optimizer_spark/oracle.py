"""Cardinality oracles.

Replaces ``MyMetadataQuery.getRowCount`` (MyMetadataQuery.java:81-162): the
reference injects a ``{query -> {table-key -> rows}}`` dict loaded from JSON
(QueryOptExperiment.java:279-291) and hard-exits on a missing key
(``:148-152``).  We keep the same contract (raise on miss) over canonical
alias-based keys (``JoinGraph.key_for``), plus:

- ``TrueCountOracle``  -- computes true subset cardinalities by counting
  (the analog of QueryOptExperiment.getTrueCardinality, ``:729-777``, minus
  its 100.0-on-error sentinel which SURVEY.md §2.7-C9 flags as a bug).
  Counting runs on DuckDB over the same parquet for speed; memoized.
- ``perturbed``        -- multiplies true counts by deterministic random
  factors, producing the "estimated" oracle of the est-vs-true harness
  (startTestCardinalities, QueryOptExperiment.java:437-505).
- ``SparkStatsOracle`` -- base-table counts from the Spark catalog; joins
  estimated with independence assumptions (textbook Selinger estimation).
"""

from __future__ import annotations

import json
import random
from pathlib import Path

from .joingraph import JoinGraph, bits, popcount


class CardinalityMissError(KeyError):
    """Raised on an oracle miss (reference: System.exit at
    MyMetadataQuery.java:148-152 -- we raise instead)."""


class CardinalityOracle:
    """Injected-dict oracle; keys are ``JoinGraph.key_for`` strings.
    Distinct-count metadata (A2, the reference's
    ``mq.getDistinctRowCount`` used to rank candidate join factors,
    MyLoptOptimizeJoinRule.java:594-641) uses keys ``<alias>#<col,...>``."""

    def __init__(self, cards: dict[str, float]):
        self.cards = dict(cards)

    def card(self, graph: JoinGraph, s: int) -> float:
        key = graph.key_for(s)
        try:
            return float(self.cards[key])
        except KeyError:
            raise CardinalityMissError(key) from None

    def distinct_count(
        self, graph: JoinGraph, alias: str, columns: tuple[str, ...]
    ) -> float:
        key = f"{alias}#{','.join(sorted(columns))}"
        try:
            return float(self.cards[key])
        except KeyError:
            raise CardinalityMissError(key) from None

    def nonnull_distinct_count(
        self, graph: JoinGraph, alias: str, columns: tuple[str, ...]
    ) -> float:
        """Distinct count over rows where EVERY key column is non-null
        (keys ``<alias>#!<col,...>``) -- the null-aware metadata the
        multi-column uniqueness proof needs: SQL count(DISTINCT (a, b))
        counts NULL-bearing tuples while join equality drops them, so
        plain distinct_count is unusable for composite keys
        (areSelfJoinKeysUnique, MyLoptOptimizeJoinRule.java:2080-2109)."""
        key = f"{alias}#!{','.join(sorted(columns))}"
        try:
            return float(self.cards[key])
        except KeyError:
            raise CardinalityMissError(key) from None

    def table_rows(self, graph: JoinGraph, alias: str) -> float:
        """Unfiltered base-table row count (uniqueness checks: keys are
        unique iff distinct_count == table_rows)."""
        key = f"{alias}#rows"
        try:
            return float(self.cards[key])
        except KeyError:
            raise CardinalityMissError(key) from None

    # ---- persistence (pg.json analog, QueryOptExperiment.java:205) -----
    def to_json(self) -> str:
        return json.dumps(self.cards, indent=1, sort_keys=True)

    @classmethod
    def from_json_file(cls, path: str | Path) -> "CardinalityOracle":
        return cls(json.loads(Path(path).read_text()))

    def perturbed(self, seed: int = 0, max_factor: float = 8.0) -> "CardinalityOracle":
        """Deterministically perturb every entry by x/÷ U(1, max_factor) --
        the 'estimated' oracle for the est-vs-true harness (§3.3)."""
        rng = random.Random(seed)
        out = {}
        for k, v in sorted(self.cards.items()):
            f = rng.uniform(1.0, max_factor)
            out[k] = max(1.0, v * f if rng.random() < 0.5 else v / f)
        return CardinalityOracle(out)


class TrueCountOracle(CardinalityOracle):
    """True subset cardinalities via DuckDB counts over the parquet dir.

    card(S) = |join of S's aliases with their filters and every join edge
    internal to S|; disconnected subsets multiply (cross product), matching
    plan-construction semantics (J15 cross-join fallback).
    """

    def __init__(self, sf_dir: str | Path):
        super().__init__({})
        self.sf_dir = str(sf_dir)
        import threading

        self._local = threading.local()  # duckdb conns aren't thread-safe

    def _connection(self):
        con = getattr(self._local, "con", None)
        if con is None:
            import duckdb

            con = self._local.con = duckdb.connect()
        return con

    def card(self, graph: JoinGraph, s: int) -> float:
        key = graph.key_for(s)
        if key not in self.cards:
            self.cards[key] = float(self._count(graph, s))
        return self.cards[key]

    def _count(self, graph: JoinGraph, s: int) -> int:
        ng = s & getattr(graph, "null_generating", 0)
        # outer semantics only apply to MIXED sets (a singleton -- even a
        # null-generating one -- is just its filtered scan) or the
        # 2-factor full-outer pair
        if ng and (s & ~ng or (graph.full_outer and popcount(s) == 2)):
            return self._count_outer(graph, s, ng)
        froms = []
        conds = []
        for i in bits(s):
            a = graph.aliases[i]
            t = graph.tables[a]
            froms.append(
                f"read_parquet('{self.sf_dir}/{t}.parquet') AS {a}"
            )
            conds.extend(p.sql() for p in graph.filters.get(a, ()))
        for e in graph.edges:
            if (e.factors & s) == e.factors:
                conds.extend(p.sql() for p in e.preds)
        sql = f"SELECT count(*) FROM {', '.join(froms)}"
        if conds:
            sql += " WHERE " + " AND ".join(conds)
        return self._connection().execute(sql).fetchone()[0]

    def _sub(self, graph: JoinGraph, alias: str) -> str:
        """Factor rendered as a filtered subselect (outer-join counting:
        a null-generating side's filters belong to its input, not WHERE)."""
        t = graph.tables[alias]
        src = f"read_parquet('{self.sf_dir}/{t}.parquet')"
        fs = graph.filters.get(alias, ())
        if fs:
            conds = " AND ".join(p.sql() for p in fs)
            return f"(SELECT * FROM {src} AS {alias} WHERE {conds}) AS {alias}"
        return f"{src} AS {alias}"

    def _count_outer(self, graph: JoinGraph, s: int, ng: int) -> int:
        """True cardinality of a set containing null-generating factors:
        the inner part chains with CROSS JOIN + WHERE (comma semantics),
        each null-generating factor appends as LEFT JOIN ... ON its edge
        predicates, with its own filters pushed into a subselect (that IS
        the ON-filter semantics the parser admits).  The 2-factor FULL
        OUTER case renders directly."""
        if graph.full_outer:
            a0, a1 = (graph.aliases[i] for i in bits(s))
            ons = [
                p.sql()
                for e in graph.edges
                if (e.factors & s) == e.factors
                for p in e.preds
            ]
            on = " AND ".join(ons) or "TRUE"
            sql = (
                f"SELECT count(*) FROM {self._sub(graph, a0)} "
                f"FULL JOIN {self._sub(graph, a1)} ON {on}"
            )
            return self._connection().execute(sql).fetchone()[0]
        inner = s & ~ng
        froms = []
        conds = []
        for i in bits(inner):
            a = graph.aliases[i]
            froms.append(
                f"read_parquet('{self.sf_dir}/{graph.tables[a]}.parquet') AS {a}"
            )
            conds.extend(p.sql() for p in graph.filters.get(a, ()))
        for e in graph.edges:
            if (e.factors & inner) == e.factors:
                conds.extend(p.sql() for p in e.preds)
        frm = " CROSS JOIN ".join(froms)
        covered = inner
        for g in bits(ng):
            a = graph.aliases[g]
            ons = [
                p.sql()
                for e in graph.edges
                if (e.factors & (covered | (1 << g))) == e.factors
                and e.factors & (1 << g)
                for p in e.preds
            ]
            frm += f" LEFT JOIN {self._sub(graph, a)} ON {' AND '.join(ons) or 'TRUE'}"
            covered |= 1 << g
        sql = f"SELECT count(*) FROM {frm}"
        if conds:
            sql += " WHERE " + " AND ".join(conds)
        return self._connection().execute(sql).fetchone()[0]

    def distinct_count(
        self, graph: JoinGraph, alias: str, columns: tuple[str, ...]
    ) -> float:
        key = f"{alias}#{','.join(sorted(columns))}"
        if key not in self.cards:
            t = graph.tables[alias]
            cols = ", ".join(sorted(columns))
            self.cards[key] = float(
                self._connection()
                .execute(
                    f"SELECT count(DISTINCT ({cols})) FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
                .fetchone()[0]
            )
        return self.cards[key]

    def nonnull_distinct_count(
        self, graph: JoinGraph, alias: str, columns: tuple[str, ...]
    ) -> float:
        key = f"{alias}#!{','.join(sorted(columns))}"
        if key not in self.cards:
            t = graph.tables[alias]
            cols = sorted(columns)
            notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
            self.cards[key] = float(
                self._connection()
                .execute(
                    f"SELECT count(DISTINCT ({', '.join(cols)})) FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet') "
                    f"WHERE {notnull}"
                )
                .fetchone()[0]
            )
        return self.cards[key]

    def table_rows(self, graph: JoinGraph, alias: str) -> float:
        key = f"{alias}#rows"
        if key not in self.cards:
            t = graph.tables[alias]
            self.cards[key] = float(
                self._connection()
                .execute(
                    f"SELECT count(*) FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
                .fetchone()[0]
            )
        return self.cards[key]

    def precompute_all_connected(self, graph: JoinGraph) -> None:
        """Warm the cache with every connected subset (feasible for the
        <=10-relation fixture graphs), plus every union of whole
        components -- the cross-product sets disconnected-graph plans
        cost (J15); their cardinality is the product of the component
        cardinalities, no counting query needed."""
        for s in range(1, graph.all_factors + 1):
            if graph.connected(s):
                self.card(graph, s)
        comps = graph.components()
        if len(comps) > 1:
            from itertools import combinations

            for k in range(2, len(comps) + 1):
                for chosen in combinations(comps, k):
                    union = 0
                    prod = 1.0
                    for c in chosen:
                        union |= c
                        prod *= self.card(graph, c)
                    self.cards[graph.key_for(union)] = prod

    def snapshot(self) -> CardinalityOracle:
        return CardinalityOracle(self.cards)


class SampledCountOracle(TrueCountOracle):
    """Cardinality estimation by counting over a Bernoulli SAMPLE of the
    subset's largest base table (by unfiltered rows), scaled by 1/p.

    Each join output row survives exactly when its row from the sampled
    table survives (probability p, independent of everything else), so
    the scaled count is unbiased for ANY subset shape -- unlike sampling
    every input, whose join estimate collapses by p^k.  Sampling is
    hash-based (md5 of the whole row, mod 10_000), not random(): the
    sample is a pure function of the data, so estimates are reproducible
    across runs, engines, and partitionings -- at cluster scale a
    random() sample would make plan choice nondeterministic.

    This is the middle rung of the est-vs-true ladder (SURVEY §3.3, C11;
    reference startTestCardinalities QueryOptExperiment.java:437-505
    perturbs true counts to *simulate* estimation error -- this estimator
    produces real, structured error): SparkStatsOracle (independence
    assumptions) -> SampledCountOracle (sampling) -> TrueCountOracle.
    """

    def __init__(self, sf_dir: str | Path, p: float = 0.1):
        super().__init__(sf_dir)
        if not (0.0 < p <= 1.0):
            raise ValueError(f"sample rate must be in (0, 1], got {p}")
        self.p = p
        self._table_rows_cache: dict[str, float] = {}

    def _base_rows(self, table: str) -> float:
        if table not in self._table_rows_cache:
            self._table_rows_cache[table] = float(
                self._connection()
                .execute(
                    f"SELECT count(*) FROM "
                    f"read_parquet('{self.sf_dir}/{table}.parquet')"
                )
                .fetchone()[0]
            )
        return self._table_rows_cache[table]

    def _count(self, graph: JoinGraph, s: int) -> float:
        # sample the largest base table in the subset; singletons and
        # outer-mixed sets fall back to exact counting (outer-join
        # cardinalities interact with the null-extension in ways a
        # one-sided sample doesn't model)
        ng = s & getattr(graph, "null_generating", 0)
        if popcount(s) == 1 or ng:
            return super()._count(graph, s)
        target = max(
            bits(s), key=lambda i: self._base_rows(graph.tables[graph.aliases[i]])
        )
        cutoff = int(self.p * 10_000)
        froms = []
        conds = []
        for i in bits(s):
            a = graph.aliases[i]
            t = graph.tables[a]
            src = f"read_parquet('{self.sf_dir}/{t}.parquet')"
            if i == target:
                froms.append(
                    f"(SELECT * FROM {src} AS {a} WHERE "
                    f"('0x' || substr(md5({a}::VARCHAR), 1, 8))::BIGINT "
                    f"% 10000 < {cutoff}) AS {a}"
                )
            else:
                froms.append(f"{src} AS {a}")
            conds.extend(p_.sql() for p_ in graph.filters.get(a, ()))
        for e in graph.edges:
            if (e.factors & s) == e.factors:
                conds.extend(p_.sql() for p_ in e.preds)
        sql = f"SELECT count(*) FROM {', '.join(froms)}"
        if conds:
            sql += " WHERE " + " AND ".join(conds)
        raw = self._connection().execute(sql).fetchone()[0]
        return max(raw / self.p, 1.0)


class SparkStatsOracle(CardinalityOracle):
    """Estimation from base-table stats + independence assumptions.

    Base rows come from the catalog/parquet metadata; filters apply a
    fixed selectivity per predicate kind; every join edge internal to the
    set divides the running product by the smaller endpoint's base rows
    -- the textbook |L||R| / max(d(L.k), d(R.k)) with d(key) approximated
    by the smaller table's size (PK side of a PK-FK edge).  This is the
    SURVEY §7 'SparkStatsOracle' -- a deliberately classic estimator
    whose errors the est-vs-true harness measures.

    Its errors are MULTIPLICATIVE (a wrong selectivity factors into
    every superset's product), so runtime feedback on a subset is
    evidence about its supersets -- OverlayOracle reads this flag to
    enable LEO adjustment propagation (see OverlayOracle docstring for
    the measured contrast with sampling estimators).
    """

    FEEDBACK_PROPAGATES = True

    FILTER_SEL = {"cmp=": 0.05, "cmp": 0.3, "between": 0.25, "like": 0.1,
                  "in": 0.2, "isnull": 0.02, "isnotnull": 0.98}

    def __init__(self, base_rows: dict[str, int]):
        super().__init__({})
        self.base_rows = base_rows  # table -> rows

    @classmethod
    def from_spark(cls, spark, table_names) -> "SparkStatsOracle":
        return cls({t: spark.table(t).count() for t in table_names})

    def _sel(self, pred) -> float:
        if pred.kind == "cmp":
            return self.FILTER_SEL["cmp=" if pred.op == "=" else "cmp"]
        return self.FILTER_SEL.get(pred.kind, 0.3)

    def card(self, graph: JoinGraph, s: int) -> float:
        rows = 1.0
        for i in bits(s):
            a = graph.aliases[i]
            base = float(self.base_rows[graph.tables[a]])
            fsel = 1.0
            for p in graph.filters.get(a, ()):
                fsel *= self._sel(p)
            rows *= base * fsel
        # one PK-FK containment correction per internal edge
        for e in graph.edges:
            if (e.factors & s) == e.factors:
                lo = min(
                    float(self.base_rows[graph.tables[graph.aliases[i]]])
                    for i in bits(e.factors)
                )
                rows /= max(lo, 1.0)
        return max(rows, 1.0)


class SketchOracle(TrueCountOracle):
    """Cardinality estimation from ONE-PASS per-table statistics: real
    filtered single-table counts plus HLL join-key distinct-count
    sketches (``approx_count_distinct``), combined with the classic
    chain formula |S| = prod(filtered rows) / prod(max(ndv_l, ndv_r))
    per internal equi-join edge.

    This is the practical rung of the est-vs-true ladder (SURVEY §3.3 /
    C11): at 100 TB, true join counts (TrueCountOracle) are unaffordable
    and even Bernoulli join sampling (SampledCountOracle) needs a pass
    per subset -- but single-table filtered counts and HLL sketches are
    one cheap scan each, exactly what ANALYZE TABLE collects.  Join
    estimates inherit the independence/containment assumptions of
    Selinger estimation (SparkStatsOracle) but on REAL filter
    selectivities and REAL key NDVs instead of fixed heuristics.

    Sketches are deterministic for a fixed dataset (HLL is a pure
    function of the value set), so plans are reproducible across runs
    and engines.
    """

    def __init__(self, sf_dir: str | Path):
        super().__init__(sf_dir)
        self._ndv: dict[tuple[str, str], float] = {}

    def _ndv_of(self, table: str, column: str) -> float:
        key = (table, column)
        if key not in self._ndv:
            self._ndv[key] = float(
                self._connection()
                .execute(
                    f"SELECT approx_count_distinct({column}) FROM "
                    f"read_parquet('{self.sf_dir}/{table}.parquet')"
                )
                .fetchone()[0]
            )
        return self._ndv[key]

    def card(self, graph: JoinGraph, s: int) -> float:
        if popcount(s) == 1:
            return super().card(graph, s)  # real filtered scan count
        rows = 1.0
        for i in bits(s):
            rows *= super().card(graph, 1 << i)
        for e in graph.edges:
            if (e.factors & s) == e.factors:
                for p in e.preds:
                    if not p.is_equijoin:
                        continue
                    left = self._ndv_of(
                        graph.tables[p.col.alias], p.col.column
                    )
                    right = self._ndv_of(
                        graph.tables[p.operand.alias], p.operand.column
                    )
                    rows /= max(left, right, 1.0)
        return max(rows, 1.0)

    def distinct_count(
        self, graph: JoinGraph, alias: str, columns: tuple[str, ...]
    ) -> float:
        if len(columns) == 1:
            return self._ndv_of(graph.tables[alias], columns[0])
        return super().distinct_count(graph, alias, columns)


class _VersionedObservations(dict):
    """Observed-cardinality dict that bumps its owning OverlayOracle's
    ``_observed_version`` on EVERY mutation, so the adjustment cache
    invalidates on in-place re-observation too -- a plain dict keyed by
    len() keeps serving stale ratios when an existing mask's value is
    replaced at unchanged size (r7 ADVICE, oracle.py:553).  Mutations
    stay the normal dict operators (``observed[m] = rows``,
    ``observed.update(...)``) so every existing caller is covered
    without a recording-method migration."""

    __slots__ = ("_owner",)

    def __init__(self, owner: "OverlayOracle", *args, **kwargs):
        super().__init__(*args, **kwargs)
        self._owner = owner

    def _bump(self) -> None:
        self._owner._observed_version += 1

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        self._bump()

    def __delitem__(self, key):
        super().__delitem__(key)
        self._bump()

    def update(self, *args, **kwargs):
        super().update(*args, **kwargs)
        self._bump()

    def setdefault(self, key, default=None):
        out = super().setdefault(key, default)
        self._bump()
        return out

    def pop(self, *args):
        out = super().pop(*args)
        self._bump()
        return out

    def popitem(self):
        out = super().popitem()
        self._bump()
        return out

    def clear(self):
        super().clear()
        self._bump()


class OverlayOracle(CardinalityOracle):
    """Estimator + runtime-observed cardinality overrides -- the
    feedback half of mid-query re-optimization (Kabra & DeWitt,
    SIGMOD'98; LEO, VLDB'01): once an intermediate has actually been
    materialized, its TRUE row count replaces the estimate for exactly
    that factor set, and every cost that touches the set re-prices.

    With ``propagate=True`` supersets of observed masks also get LEO's
    ADJUSTMENT propagation (Stillger et al., VLDB'01 sec 3.2): the
    estimate for S is scaled by prod(observed[O]/est[O]) over a greedy
    maximal-coverage disjoint family of observed subsets O of S.
    Without it the overlay is internally inconsistent -- est(ABC) can
    sit below observed(AB).

    Propagation is SOUND exactly when the base estimator's errors
    compound multiplicatively up the plan: an independence-assumption
    estimator (SparkStatsOracle) carries a wrong base selectivity into
    every superset by the same factor, which is the error model LEO was
    built for -- there a subset's observed error IS information about
    its supersets.  A sampling estimator has no such structure (it
    counts a hash-sample of the subset's largest table, so a small
    table's sampling error does NOT taint supersets), and the
    perturb_x8 harness draws each mask's error independently by
    construction; correcting those estimators' supersets with subset
    ratios injects error instead of removing it.  Measured in
    CARDSENS_r07 (adaptive_leo_prop vs _noprop rows): propagation takes
    the stats rung to the oracle-completion headroom (1.003 -> 1.000)
    and degrades sampled_p20 join_galaxy_10 1.001 -> 1.140.  So
    ``propagate=None`` (default) auto-resolves from the base
    estimator's declared ``FEEDBACK_PROPAGATES`` -- True only for the
    selectivity-model estimator.  Adjustments are clamped to [1/64, 64]
    per factor so one pathological estimate cannot swing a superset by
    more than the perturbation harness's own max error squared.

    ``observed`` is keyed by the JoinGraph factor MASK (graph-specific;
    an overlay never outlives its graph).  All other metadata
    (distinct counts, base rows) delegates to the wrapped estimator.
    """

    _ADJ_CLAMP = 64.0

    def __init__(
        self,
        base: CardinalityOracle,
        observed: dict[int, float],
        propagate: bool | None = None,
    ):
        super().__init__({})
        self.base = base
        self._observed_version = 0
        self.observed = _VersionedObservations(self, observed)
        self.propagate = (
            getattr(base, "FEEDBACK_PROPAGATES", False)
            if propagate is None
            else propagate
        )

    def _adjustments(self, graph: JoinGraph):
        """(mask, clamped observed/est ratio) sorted largest-first --
        rebuilt only when ``observed`` MUTATES (a planning pass makes
        tens of thousands of card() calls against an observed set that
        changes at most once per observation round; re-sorting and
        re-pricing per call would dominate DP time at warm-seeded
        store sizes).  The cache keys on an explicit version counter
        bumped by every write to ``observed`` -- NOT len(observed),
        which misses an in-place re-observation (same length, changed
        value, e.g. a store-seeded mask re-recorded after the data
        refreshed) and would plan on stale ratios (r7 ADVICE).  The
        Cached per (version, graph): a small FIFO-bounded dict so
        alternating card() calls across two live graphs at the same
        observed version (inner + outer graph of a mixed fixture, or
        the sensitivity harness's side-by-side arms) each hit their own
        entry instead of thrashing a single slot (r8 ADVICE).  Each
        entry holds ITS graph by strong reference, so a dead graph's
        recycled id() can never alias a live cache key; the bound (8)
        caps how many graphs the oracle keeps alive."""
        key = (self._observed_version, id(graph))
        cache = getattr(self, "_adj_cache", None)
        if cache is None:
            cache = self._adj_cache = {}
        hit = cache.get(key)
        if hit is not None and hit[0] is graph:
            return hit[1]
        out = []
        for o in sorted(
            self.observed, key=lambda m: (-bin(m).count("1"), m)
        ):
            o_est = self.base.card(graph, o)
            if o_est <= 0:
                continue
            f = self.observed[o] / o_est
            out.append(
                (o, min(max(f, 1.0 / self._ADJ_CLAMP), self._ADJ_CLAMP))
            )
        if len(cache) >= 8:  # one insert per miss keeps it at 8
            cache.pop(next(iter(cache)))
        cache[key] = (graph, out)
        return out

    def card(self, graph: JoinGraph, s: int) -> float:
        hit = self.observed.get(s)
        if hit is not None:
            return float(hit)
        est = self.base.card(graph, s)
        if not self.propagate:
            return est
        # LEO adjustment propagation: greedy maximal disjoint family of
        # observed strict subsets (largest first -- the most specific
        # correction wins, like LEO's longest-match adjustment lookup)
        chosen = 0
        adj = 1.0
        for o, f in self._adjustments(graph):
            if o & ~s or o & chosen:
                continue
            adj *= f
            chosen |= o
            if chosen == s:
                break
        return max(est * adj, 1.0)

    def distinct_count(self, graph, alias, columns):
        return self.base.distinct_count(graph, alias, columns)

    def nonnull_distinct_count(self, graph, alias, columns):
        return self.base.nonnull_distinct_count(graph, alias, columns)

    def table_rows(self, graph, alias):
        return self.base.table_rows(graph, alias)


class FeedbackStore:
    """Cross-query cardinality feedback -- the LEO paper's HEADLINE
    loop (Stillger et al., VLDB'01): statistics observed while one
    query executes correct the estimates of LATER queries, so a
    workload's second pass over a query plans it with exact
    cardinalities for everything the first pass touched.  The
    within-query loop (run_fixture_adaptive_full) can only fix joins
    not yet executed; this store is what removes the blind first join
    on re-execution -- CARDSENS_r07's adaptive_warm rows measure the
    recovery.

    Keys are ``JoinGraph.key_for`` strings, which are canonical and
    collision-free ACROSS queries (alias=table + filters + internal
    join predicates), so one store serves a whole workload; the
    reference must scope its runtime card caches per-query precisely
    because its sorted-table-name keys collide
    (MyMetadataQuery.java:107-146, MyUtils.java:120-192).

    Optionally persists to a JSON sidecar -- at cluster scale this is
    the query-history statistics service every warehouse keeps, and a
    plain key->rows dict is mergeable across executors/sessions by
    construction (last-writer-wins on identical true counts is
    idempotent).
    """

    # seed() enumerates the graph's factor-subset lattice to translate
    # stored keys back into this graph's masks; past ~16 factors that
    # enumeration (2^n) would dominate planning, so larger graphs seed
    # leaves only.  Every fixture is <= 10 factors.
    _SEED_LATTICE_MAX_FACTORS = 16

    def __init__(
        self, path: "str | None" = None, tag: "str | None" = None
    ):
        """``tag`` names the DATASET the counts were observed on (e.g.
        the sf_dir, or a table-snapshot fingerprint at warehouse
        scale).  key_for strings deliberately do not encode data
        identity -- a persisted sidecar loaded against refreshed or
        re-scaled data would otherwise seed every mask with stale
        'true' counts the planner trusts over the estimator.  A tagged
        store DISCARDS a persisted payload whose tag differs; untagged
        (None) skips the check for in-session stores that never outlive
        their data."""
        self.path = path
        self.tag = tag
        self.rows: dict[str, float] = {}
        if path is not None:
            try:
                with open(path) as f:
                    payload = json.load(f)
            except FileNotFoundError:
                payload = None
            if payload is not None:
                if isinstance(payload, dict) and "rows" in payload:
                    stored_tag = payload.get("tag")
                    if tag is None or stored_tag == tag:
                        self.rows = {
                            k: float(v) for k, v in payload["rows"].items()
                        }
                elif tag is None:
                    # legacy flat payload (no tag recorded)
                    self.rows = {k: float(v) for k, v in payload.items()}

    def record(self, graph: JoinGraph, mask: int, rows: float) -> None:
        self.rows[graph.key_for(mask)] = float(rows)

    def record_stream(self, op: str, metric: str, rows: float) -> None:
        """Streaming analog of record(): per-micro-batch state/input
        metrics (stateOperators numRowsTotal, per-source numInputRows)
        keyed ``stream::<op>::<metric>``.  Cumulative metrics recorded
        batch-by-batch converge on the final total (last writer wins),
        exactly like re-observing an identical batch count.  The
        namespace prefix cannot collide with key_for strings (those
        start with the canonical alias=table list)."""
        self.rows[f"stream::{op}::{metric}"] = float(rows)

    def stream_observation(self, op: str, metric: str) -> "float | None":
        return self.rows.get(f"stream::{op}::{metric}")

    def seed(self, graph: JoinGraph) -> dict[int, float]:
        """Every stored observation that names a subset of ``graph``,
        as {mask: rows} ready for OverlayOracle.observed."""
        out: dict[int, float] = {}
        n = graph.n
        if n <= self._SEED_LATTICE_MAX_FACTORS:
            masks = range(1, 1 << n)
        else:
            masks = (1 << i for i in range(n))
        for m in masks:
            hit = self.rows.get(graph.key_for(m))
            if hit is not None:
                out[m] = hit
        return out

    def save(self) -> None:
        if self.path is None:
            raise ValueError("FeedbackStore created without a path")
        with open(self.path, "w") as f:
            json.dump(
                {"tag": self.tag, "rows": self.rows},
                f,
                indent=0,
                sort_keys=True,
            )
