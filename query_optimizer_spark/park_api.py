"""In-process 'park API' session -- the reference's complete ZeroMQ RPC
command surface (ZeroMQServer.java:113-255; the code comments call it
"the park API" after the learning-augmented-systems benchmark platform).

The reference suspends a Java optimizer mid-rule while a Python agent
drives it over a PAIR socket.  Here both sides are Python, so every
command becomes a method with the same name, arguments, and observable
payloads (state JSON per SURVEY.md §2.9); an agent written against the
reference's protocol ports by replacing socket sends with method calls.

Command mapping (reference name -> method):
  reset / step / getActions / getQueryGraph / getReward / isDone
  curQuery / getAttrCount / getCurrentQueryName / getQueryInfo
  setQueries / setCardinalities / getJoinsCost / joinOrderSeq
  getCurQuerySet / getOptPlan / train / test / execOnDB / noExecOnDB
  startTestCardinalities / getEstCardinalityCosts /
  getOptCardinalityCosts / getTrueReward / END
"""

from __future__ import annotations

import json

from .catalog import Catalog
from .costmodels import CostModel, get_cost_model
from .env import JoinOrderEnv
from .executor import join_order_record
from .harness import QueryRecord, compare_oracles, result_hash
from .joingraph import JoinGraph
from .oracle import CardinalityOracle
from .planners import PLANNERS
from .sqlparse import parse


class ParkSession:
    """One experiment session (QueryOptExperiment analog), driven by an
    agent through the reference's command vocabulary."""

    def __init__(
        self,
        spark=None,
        sf_dir: str | None = None,
        oracle=None,
        cost_model: CostModel | str = "cm1",
        seed: int = 0,
        true_oracle=None,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.oracle = oracle
        self.true_oracle = true_oracle
        self.cm = (
            get_cost_model(cost_model)
            if isinstance(cost_model, str)
            else cost_model
        )
        self.catalog = (
            Catalog(spark, sf_dir) if spark is not None and sf_dir else None
        )
        self.seed = seed
        self._queries: dict[str, dict[str, str]] = {"train": {}, "test": {}}
        self._mode = "train"
        self._exec_on_db = False
        self._order: list[str] = []
        self._idx = -1
        self._env: JoinOrderEnv | None = None
        # sql -> its env, built at the first reset that plays it and
        # dropped by setQueries and setCardinalities; later episodes
        # reuse the env's graph and state records
        self._envs: dict[str, JoinOrderEnv] = {}
        self._records: dict[str, QueryRecord] = {}
        self._est_costs: dict[str, float] = {}
        self._opt_costs: dict[str, float] = {}
        self._ended = False

    # --- workload ingestion (setQueries, 3-phase in the reference) -------
    def setQueries(self, mode: str, queries_json: str | dict) -> None:
        qs = (
            json.loads(queries_json)
            if isinstance(queries_json, str)
            else dict(queries_json)
        )
        self._queries[mode] = qs
        self._envs.clear()
        if mode == self._mode:
            self._order = list(qs)
            self._idx = -1

    def setCardinalities(self, cards_json: str | dict) -> None:
        cards = (
            json.loads(cards_json)
            if isinstance(cards_json, str)
            else dict(cards_json)
        )
        self.oracle = CardinalityOracle(cards)
        self._envs.clear()  # they hold the old oracle

    def train(self) -> None:
        self._mode = "train"
        self._order = list(self._queries["train"])
        self._idx = -1

    def test(self) -> None:
        self._mode = "test"
        self._order = list(self._queries["test"])
        self._idx = -1

    def execOnDB(self) -> None:
        self._exec_on_db = True

    def noExecOnDB(self) -> None:
        self._exec_on_db = False

    # --- per-episode protocol --------------------------------------------
    def reset(self) -> dict:
        """Advance to the next query (round-robin in train mode,
        sequential in test -- QueryOptExperiment.java:534-549) and start
        a fresh episode."""
        if self._env is not None and not self._env.done:
            self._env.finish_random()  # RLJoinOrderRule.java:167-171
        if not self._order:
            raise RuntimeError("setQueries first")
        if self._mode == "test" and self._idx + 1 >= len(self._order):
            # test mode is sequential and finite (QueryOptExperiment.java
            # :534-549); train mode round-robins forever
            raise StopIteration("test query set exhausted")
        self._idx = (self._idx + 1) % len(self._order)
        name = self._order[self._idx]
        sql = self._queries[self._mode][name]
        env = self._envs.get(sql)
        if env is None:  # a new env starts reset
            env = self._envs[sql] = JoinOrderEnv(
                JoinGraph.from_query(parse(sql)),
                self.oracle,
                self.cm,
                catalog=self.catalog,
                seed=self.seed,
            )
        else:
            env.restart()
        self._cur_name, self._cur_sql, self._cur_graph = name, sql, env.graph
        self._env = env
        self._records.setdefault(name, QueryRecord(name=name, sql=sql))
        return self._env.state()

    def step(self, action: int):
        state, reward, done, info = self._env.step(action)
        if done:
            rec = self._records[self._cur_name]
            rec.costs["RL"] = self._env.cost_so_far
            rec.join_orders["RL"] = join_order_record(
                self._cur_graph, self._env.final_plan(), self.oracle, self.cm
            )
            if self._exec_on_db and self.spark is not None:
                from .executor import execute_plan

                df = execute_plan(
                    self.spark,
                    self.sf_dir,
                    self._cur_graph,
                    self._env.final_plan(),
                    self.oracle,
                )
                n, h = result_hash(df)
                rec.result_hashes["RL"] = f"{n}:{h}"
        return state, reward, done, info

    def getActions(self) -> list[int]:
        return self._env.actions()

    def getQueryGraph(self) -> dict:
        return self._env.state()

    def getReward(self) -> float:
        return self._env.last_reward

    def getTrueReward(self) -> float:
        """Reward of the last join re-costed under TRUE cardinalities
        (getTrueReward, ZeroMQServer.java) -- falls back to the training
        reward when no true oracle is configured."""
        if self.true_oracle is None or self._env is None:
            return self._env.last_reward if self._env else 0.0
        last = self.vertices_last_join()
        if last is None:
            return 0.0
        return -self.cm.node_cost(self._cur_graph, last, self.true_oracle)

    def vertices_last_join(self):
        for v in reversed(self._env.vertices):
            if v.left is not None:
                return v.node
        return None

    def isDone(self) -> bool:
        return self._env.done

    # --- query info --------------------------------------------------------
    def curQuery(self) -> str:
        return self._cur_sql

    def getCurrentQueryName(self) -> str:
        return self._cur_name

    def getCurQuerySet(self) -> str:
        return self._mode

    def getAttrCount(self) -> int:
        return self.catalog.attr_count if self.catalog else 0

    def getQueryInfo(self) -> str:
        """Full Query record as JSON (Query.toJson, Query.java:48-51)."""
        return self._records[self._cur_name].to_json()

    def joinOrderSeq(self) -> str:
        rec = self._records[self._cur_name].join_orders.get("RL")
        return rec["order"] if rec else ""

    # --- planner comparison -------------------------------------------------
    def getJoinsCost(self, planner_name: str) -> dict:
        """Plan the current query with a named deterministic planner and
        return its per-join costs (getJoinsCost, ZeroMQServer.java)."""
        res = PLANNERS[planner_name](self._cur_graph, self.oracle, self.cm)
        if res is None:
            return {}
        rec = join_order_record(self._cur_graph, res.tree, self.oracle, self.cm)
        self._records[self._cur_name].costs[planner_name] = res.cost
        self._records[self._cur_name].join_orders[planner_name] = rec
        return rec["per_join_costs"]

    def getOptPlan(self) -> str:
        res = PLANNERS["dp_ccp"](self._cur_graph, self.oracle, self.cm)
        return res.order_str()

    # --- est-vs-true harness (§3.3) ------------------------------------------
    def startTestCardinalities(self, est_oracle, true_oracle) -> None:
        qs = self._queries[self._mode]
        out = compare_oracles(qs, est_oracle, true_oracle, self.cm)
        self._est_costs = {k: v[0] for k, v in out.items()}
        self._opt_costs = {k: v[1] for k, v in out.items()}

    def getEstCardinalityCosts(self) -> dict[str, float]:
        return dict(self._est_costs)

    def getOptCardinalityCosts(self) -> dict[str, float]:
        return dict(self._opt_costs)

    def END(self) -> None:
        self._ended = True
