"""The benchmark's workloads: closed loops with one client, one step at a
time (a crawl round or an admission wave), each step starting only after
the previous one committed.

A workload object has four calls, all made by ``run.py``:

- ``setup()``: inputs from the seed, table bootstrap, untimed warm-up
- ``prepare(k)``: untimed input staging for step ``k``
- ``step(k)``: the timed step; returns the URLs it handled (pages fetched
  ok for a crawl round, raw candidates offered for an admission wave)
- ``check()``: the correctness gate, after the loop; returns a list of
  failed checks per step id

Step ``first_step + 1`` is always a resume: a fresh engine (or catalog) on
the committed warehouse, through the end of its first step.
"""

from __future__ import annotations

import json
import os

import numpy as np

from crawld_spark.config import CrawlConfig
from crawld_spark.session import local_df

T_FRONTIER, T_SEEN = "frontier", "seen_shards"


# ------------------------------------------------------------- warehouse


def warehouse_stats(warehouse: str) -> dict:
    """Bytes and files on disk, compactions so far (table versions holding a
    ``compact*`` data dir) and the frontier's current delta-file count."""
    n_bytes = n_files = 0
    compactions = 0
    for root, dirs, files in os.walk(warehouse):
        n_files += len(files)
        n_bytes += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        if any(d.startswith("compact") for d in dirs):
            compactions += 1
    deltas = 0
    ptr = os.path.join(warehouse, T_FRONTIER, "_VERSION")
    if os.path.exists(ptr):
        with open(ptr) as f:
            v = int(f.read().strip())
        with open(os.path.join(warehouse, T_FRONTIER, f"v{v:06d}.json")) as f:
            deltas = len(json.load(f).get("delta_dirs", []))
    return {"bytes": n_bytes, "files": n_files, "compactions": compactions,
            "frontier_deltas": deltas}


def admission_counts(cand, out, admitted) -> dict:
    """Counts of one ``seen.admit_new_urls`` call, read from its still-cached
    frames: unique candidates, suspects (cuckoo-positive candidate URLs),
    admitted, false-positive survivors of the exact check, dirty shards."""
    from pyspark.sql import functions as F

    susp = (
        out.where(F.col("kind") == "s").select("h").distinct()
        .withColumn("_s", F.lit(1))
    )
    row = (
        cand.join(susp, on="h", how="left")
        .agg(F.count("*").alias("u"), F.count("_s").alias("s"))
        .collect()[0]
    )
    unique, suspects = int(row["u"]), int(row["s"])
    n_admitted = admitted.count()
    return {
        "unique_candidates": unique,
        "suspects": suspects,
        "admitted": n_admitted,
        "fp_survivors": n_admitted - (unique - suspects),
        "dirty_shards": out.where(F.col("kind") == "b").count(),
    }


def make_config(params: dict, warehouse: str, nproc: int) -> CrawlConfig:
    return CrawlConfig(warehouse=warehouse, shuffle_partitions=nproc, **params["config"])


# ------------------------------------------------------------- crawl loop


class CrawlLoop:
    """``discover`` and ``recrawl_polite``: bootstrap a synthetic web's seeds,
    then run ``CrawlEngine.run_round`` in a closed loop."""

    step_span = "rounds.round"
    first_step = 1

    def __init__(self, spark, params: dict, seed: int, warehouse: str, nproc: int, tracer):
        self.spark, self.p, self.seed = spark, params, seed
        self.warehouse, self.nproc, self.tracer = warehouse, nproc, tracer
        self.cfg = make_config(params, warehouse, nproc)
        self.stats: list[dict] = []
        self.engine = None
        # traced runs: frames captured by the layer taps, counted before
        # the round releases its caches
        self._admission = None
        self._pending = None
        self.counts: dict[int, dict] = {}

    # ---- inputs ----
    def _seeds(self) -> list[tuple[str, float]]:
        from crawld_spark.sources.synth_web import page_url, seeds_py

        web, s = self.p["web"], self.p["seeds"]
        if s.get("all_pages"):
            rng = np.random.default_rng(self.seed)
            prio = rng.integers(0, s["priority_levels"], size=web["n_pages"])
            return [(page_url(i, web["n_hosts"]), float(prio[i]))
                    for i in range(web["n_pages"])]
        return seeds_py(web["n_pages"], web["n_hosts"], n_seeds=s["n_seeds"], seed=self.seed)

    def _robots_py(self) -> dict:
        from crawld_spark.sources.synth_web import robots_py

        r = self.p["robots"]
        if r is None:
            return {}
        return robots_py(self.p["web"]["n_hosts"], r["default_delay_s"])

    def setup(self) -> None:
        from crawld_spark.plans.rounds import CrawlEngine
        from crawld_spark.sources.synth_web import SEEDS_SCHEMA, generate_pages, generate_robots

        spark, web, tr = self.spark, self.p["web"], self.tracer
        with tr.span("synth_web.generate"):
            self.pages = generate_pages(
                spark, web["n_pages"], web["n_hosts"], self.seed, fanout=web["fanout"],
                partitions=self.nproc,
            ).cache()
            self.pages.count()
            if self.p["robots"] is None:
                self.robots = None
            else:
                self.robots = generate_robots(
                    spark, web["n_hosts"], self.seed, self.p["robots"]["default_delay_s"]
                )
        self.seeds = self._seeds()
        seeds_df = local_df(spark, self.seeds, SEEDS_SCHEMA, ["url", "priority"])
        self.engine = CrawlEngine(spark, self.cfg, self.pages, self.robots)
        with tr.span("rounds.bootstrap"):
            self.engine.bootstrap(seeds_df)

    # ---- loop ----
    def prepare(self, k: int) -> None:
        pass

    def step(self, k: int) -> int:
        from crawld_spark.plans.rounds import CrawlEngine

        if k == self.first_step + 1:
            self.engine = CrawlEngine(self.spark, self.cfg, self.pages, self.robots)
            self.engine.cat.restore_last_commit()
        st = self.engine.run_round(k)
        self.stats.append(st)
        return st["fetched"]

    def exhausted(self) -> bool:
        st = self.stats[-1] if self.stats else None
        return st is not None and st["scheduled"] == 0 and st["admitted"] == 0

    # ---- traced-run taps ----
    def tap_admit(self, args, kwargs, out) -> None:
        admitted, _dirty, caches = out
        self._admission = (caches[0], caches[1], admitted)

    def tap_schedule(self, args, kwargs, out) -> None:
        self._pending = args[0]

    def on_release(self) -> None:
        k = self.tracer.step
        if k is None or k in self.counts or self._admission is None:
            return
        with self.tracer.span("bench.count"):
            c = admission_counts(*self._admission)
            c["eligible"] = self._pending.count() if self._pending is not None else 0
        self.counts[k] = c
        self._admission = self._pending = None

    # ---- correctness ----
    def check(self, n_counted: int) -> tuple[dict[int, list[str]], dict]:
        """Engine vs ``plans.simulator.simulate`` on the same seed: the
        fetched (round, order, url) trace, the final frontier (priority,
        discovery_seq, status), the host clocks; and every fetched text
        byte-identical to the generated page text."""
        from pyspark.sql import functions as F

        from crawld_spark.plans.simulator import simulate
        from crawld_spark.sources.synth_web import pages_py

        web = self.p["web"]
        rounds = [st["round_id"] for st in self.stats]
        last = rounds[-1]
        pages = pages_py(web["n_pages"], web["n_hosts"], self.seed, web["fanout"])
        sim = simulate(pages, self.seeds, self._robots_py(), self.cfg, max_rounds=last)
        cat = self.engine.cat
        fails: dict[int, list[str]] = {}

        fetched = (
            cat.read("fetched")
            .where(F.col("fetch_status") == "ok")
            .select("round_id", "url", "priority", "discovery_seq", "text",
                    F.size("links").alias("n_links"))
            .collect()
        )
        fetched.sort(key=lambda r: (r.round_id, -r.priority, r.discovery_seq))
        got_trace: dict[int, list] = {}
        for r in fetched:
            got_trace.setdefault(r.round_id, []).append(r.url)
        want_trace: dict[int, list] = {}
        for rnd, _i, url in sim.trace:
            want_trace.setdefault(rnd, []).append(url)
        for rnd in rounds:
            if got_trace.get(rnd, []) != want_trace.get(rnd, []):
                fails.setdefault(rnd, []).append("fetch trace differs from the simulator")
        for r in fetched:
            if r.text is None or r.text.encode("utf-8") != pages[r.url]["text"].encode("utf-8"):
                fails.setdefault(r.round_id, []).append(f"fetched text of {r.url} not byte-identical")
                break

        fr = {
            r.url: (r.priority, r.discovery_seq, r.status)
            for r in cat.read("frontier").select("url", "priority", "discovery_seq", "status").collect()
        }
        want_fr = {u: (x.priority, x.discovery_seq, x.status) for u, x in sim.frontier.items()}
        if fr != want_fr:
            fails.setdefault(last, []).append("final frontier differs from the simulator")
        hs = {
            r.host: (r.next_allowed_vt, r.error_score)
            for r in cat.read("host_state").collect()
        }
        want_hs = {h: (s.next_allowed_vt, s.error_score) for h, s in sim.hosts.items()}
        if hs != want_hs:
            fails.setdefault(last, []).append("host clocks differ from the simulator")

        counted = set(rounds[:n_counted])
        extracted = {
            "pages_extracted": sum(1 for r in fetched if r.round_id in counted),
            "links_extracted": sum(r.n_links for r in fetched if r.round_id in counted),
        }
        return fails, extracted

    def layer_counts(self, steps: list[int]) -> dict:
        """seen / politeness counts summed over ``steps`` (traced runs)."""
        out = {k: 0 for k in ("unique_candidates", "suspects", "admitted",
                              "fp_survivors", "dirty_shards", "eligible")}
        for k in steps:
            for key, v in self.counts.get(k, {}).items():
                out[key] += v
        by_round = {st["round_id"]: st for st in self.stats}
        out["fetch"] = sum(by_round[k]["scheduled"] for k in steps if k in by_round)
        out["denied"] = sum(by_round[k]["denied"] for k in steps if k in by_round)
        out["rank_rows"] = sum(by_round[k]["admitted"] for k in steps if k in by_round)
        return out


# ----------------------------------------------------------- admit waves


class CandidateGen:
    """Raw candidate URLs per wave, from the seed: ``dup_share`` of each
    wave repeats a URL of the same wave, and ``reoffer_share`` of each later
    wave's distinct URLs re-offers URLs of earlier waves. Hosts are skewed
    over ``n_hosts`` (host k holds a share ~ 1/((k+1)(k+2)), the synthetic
    web's skew). Knows each wave's never-seen count."""

    def __init__(self, seed: int, wave: dict):
        self.rng = np.random.default_rng(seed)
        self.w = wave
        self.next_id = 0
        self.offered = np.empty(0, dtype=np.int64)

    def host_of(self, pid: np.ndarray) -> np.ndarray:
        frac = (pid * 2654435761 % 1000003) / 1000003.0
        k = np.floor(1.0 / (1.0 - frac)).astype(np.int64) - 1
        return np.clip(k, 0, self.w["n_hosts"] - 1).astype(np.int32)

    def wave(self, c: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
        n_unique = int(round(c * (1.0 - self.w["dup_share"])))
        n_re = min(int(round(n_unique * self.w["reoffer_share"])), self.offered.size)
        n_new = n_unique - n_re
        new = np.arange(self.next_id, self.next_id + n_new, dtype=np.int64)
        self.next_id += n_new
        re = self.rng.choice(self.offered, size=n_re, replace=False)
        uniq = np.concatenate([new, re])
        dups = self.rng.choice(uniq, size=c - n_unique, replace=True)
        pids = self.rng.permutation(np.concatenate([uniq, dups]))
        prio = self.rng.integers(0, self.w["priority_levels"], size=c).astype(np.float64)
        self.offered = np.concatenate([self.offered, new])
        return pids, self.host_of(pids), prio, n_new


class AdmitLoop:
    """``frontier_admit``: no fetch. Each wave runs groupBy(url) →
    ``seen.admit_new_urls`` → ``global_rank`` → ``Catalog.upsert``
    (seen_shards deltas, frontier inserts) + commit →
    ``politeness.schedule_round`` with a binding per-host budget."""

    step_span = "admit.wave"

    def __init__(self, spark, params: dict, seed: int, warehouse: str, nproc: int, tracer):
        self.spark, self.p, self.seed = spark, params, seed
        self.warehouse, self.nproc, self.tracer = warehouse, nproc, tracer
        self.cfg = make_config(params, warehouse, nproc)
        self.first_step = params["warmup_waves"] + 1
        self.gen = CandidateGen(seed, params["wave"])
        self.expected: dict[int, int] = {}  # never-seen URLs per wave
        self.admitted: dict[int, int] = {}
        self.sched: dict[int, tuple[int, int]] = {}  # (fetch, denied)
        self.counts: dict[int, dict] = {}
        self._next = None
        self._n_raw = 0

    def setup(self) -> None:
        from crawld_spark.operators import politeness, seen
        from crawld_spark.plans.rounds import FRONTIER_SCHEMA
        from crawld_spark.sources.synth_web import generate_robots
        from crawld_spark.sources.tables import Catalog

        spark, cfg = self.spark, self.cfg
        self.robots = generate_robots(
            spark, self.p["wave"]["n_hosts"], self.seed, self.p["robots"]["default_delay_s"]
        ).cache()
        self.robots.count()
        self.host_state = spark.createDataFrame([], politeness.HOST_STATE_SCHEMA)
        self.cat = Catalog(spark, self.warehouse)
        with self.tracer.span("tables.create"):
            shards = seen.empty_shards(
                spark, cfg.n_seen_shards, cfg.cuckoo_capacity_per_shard, cfg.bloom_bits
            )
            versions = {
                T_SEEN: self.cat.write(T_SEEN, shards, advance_pointer=False),
                T_FRONTIER: self.cat.write(
                    T_FRONTIER, spark.createDataFrame([], FRONTIER_SCHEMA),
                    advance_pointer=False, partition=("status", "pending"),
                ),
            }
            self.cat.commit_round(0, versions)
        self.max_seq = 0
        # warm-up: the cold first waves, smaller and untimed (their time is
        # set-up); they compile and start everything a wave uses
        for k in range(1, self.first_step):
            self.prepare(k)
            self.step(k)

    def prepare(self, k: int) -> None:
        w = self.p["wave"]
        self._n_raw = w["candidates"] if k >= self.first_step else w["warmup_candidates"]
        pids, hosts, prio, n_new = self.gen.wave(self._n_raw)
        self.expected[k] = n_new
        import pandas as pd

        pdf = pd.DataFrame({"pid": pids, "host_id": hosts, "priority": prio})
        self._next = self.spark.createDataFrame(
            pdf, "pid long, host_id int, priority double"
        )

    def step(self, k: int) -> int:
        from pyspark.sql import functions as F

        from crawld_spark.functions.url import url_host
        from crawld_spark.operators import politeness, seen
        from crawld_spark.plans.rank import global_rank
        from crawld_spark.plans.rounds import FRONTIER_SCHEMA
        from crawld_spark.sources.tables import Catalog

        spark, cfg, tr = self.spark, self.cfg, self.tracer
        if k == self.first_step + 1:
            # resume: a fresh catalog on the committed warehouse re-reads
            # everything the previous one carried
            self.cat = Catalog(spark, self.warehouse)
            self.cat.restore_last_commit()
            self.max_seq = None
        cat = self.cat
        if self.max_seq is None:
            self.max_seq = cat.read(T_FRONTIER).agg(F.max("discovery_seq")).collect()[0][0] or 0
        raw = self._next
        url = F.concat(
            F.lit("http://host"), F.col("host_id").cast("string"),
            F.lit(".example.com/p/"), F.col("pid").cast("string"),
        )
        cand = raw.select(url.alias("url"), "priority").groupBy("url").agg(
            F.max("priority").alias("priority")
        )
        shards = cat.read(T_SEEN)
        frontier = cat.read(T_FRONTIER)
        with tr.span("seen.admit"):
            admitted, dirty, caches = seen.admit_new_urls(
                spark, cand, shards, frontier.select("url", "h"), cfg.n_seen_shards,
                round_id=k,
            )
        stats: dict = {}
        with tr.span("rank.global_rank"):
            ranked = global_rank(
                admitted.select("url", "h", "priority"),
                [F.desc("priority"), F.asc("url")],
                out="discovery_seq", start=self.max_seq + 1, caches=caches, stats=stats,
            )
        n_admitted = stats["total"]
        if tr.enabled:
            with tr.span("bench.count"):
                self.counts[k] = admission_counts(caches[0], caches[1], admitted)
        rows = (
            ranked.withColumn("host", url_host(F.col("url")))
            .withColumn("status", F.lit("pending"))
            .withColumn("round_added", F.lit(k))
            .withColumn("attempts", F.lit(0))
            .withColumn("last_round", F.lit(None).cast("int"))
            .select([f.name for f in FRONTIER_SCHEMA.fields])
        ).cache()
        small = max(1, cfg.shuffle_partitions // 8)
        versions = {
            T_SEEN: cat.upsert(
                T_SEEN, updates=dirty.coalesce(small), keys=["shard_id"], advance_pointer=False
            ),
            T_FRONTIER: cat.upsert(
                T_FRONTIER, inserts=rows.coalesce(small), keys=["url"],
                advance_pointer=False, inserts_value="pending",
            ),
        }
        cat.commit_round(k, versions)
        with tr.span("politeness.schedule"):
            scheduled = politeness.schedule_round(
                rows.select("url", "host", "priority", "discovery_seq"),
                self.host_state, self.robots, k, cfg,
            )
            by_decision = {
                r["decision"]: int(r["n"])
                for r in scheduled.groupBy("decision").agg(F.count("*").alias("n")).collect()
            }
        self.max_seq += n_admitted
        self.admitted[k] = n_admitted
        self.sched[k] = (by_decision.get("fetch", 0), by_decision.get("denied", 0))
        for df in (rows, admitted, *caches):
            seen.release_df(df)
        return self._n_raw

    def exhausted(self) -> bool:
        return False

    def check(self, n_counted: int) -> tuple[dict[int, list[str]], dict]:
        """Admitted count per wave equals the generator's never-seen count;
        no URL admitted twice across waves; discovery_seq dense from 1."""
        from pyspark.sql import functions as F

        fails: dict[int, list[str]] = {}
        for k, n in self.admitted.items():
            if n != self.expected[k]:
                fails.setdefault(k, []).append(
                    f"admitted {n} URLs, the generator offered {self.expected[k]} never-seen"
                )
        row = self.cat.read(T_FRONTIER).agg(
            F.count("*").alias("n"),
            F.countDistinct("url").alias("urls"),
            F.countDistinct("discovery_seq").alias("seqs"),
            F.min("discovery_seq").alias("lo"),
            F.max("discovery_seq").alias("hi"),
        ).collect()[0]
        last = max(self.admitted)
        total = sum(self.admitted.values())
        if row["n"] != total:
            fails.setdefault(last, []).append(f"frontier holds {row['n']} rows, {total} admitted")
        if row["urls"] != row["n"]:
            fails.setdefault(last, []).append("a URL was admitted twice")
        if row["n"] and not (row["seqs"] == row["n"] and row["lo"] == 1 and row["hi"] == row["n"]):
            fails.setdefault(last, []).append("discovery_seq is not dense from 1")
        return fails, {"pages_extracted": 0, "links_extracted": 0}

    def layer_counts(self, steps: list[int]) -> dict:
        out = {k: 0 for k in ("unique_candidates", "suspects", "admitted",
                              "fp_survivors", "dirty_shards")}
        for k in steps:
            for key, v in self.counts.get(k, {}).items():
                out[key] += v
        out["eligible"] = sum(self.admitted.get(k, 0) for k in steps)
        out["fetch"] = sum(self.sched[k][0] for k in steps if k in self.sched)
        out["denied"] = sum(self.sched[k][1] for k in steps if k in self.sched)
        out["rank_rows"] = sum(self.admitted.get(k, 0) for k in steps)
        return out


WORKLOADS = {"crawl": CrawlLoop, "admit": AdmitLoop}
