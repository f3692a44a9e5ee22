"""The benchmark's workloads.

Each workload is a single closed-loop client: it issues its next
operation only after the previous one returned. A workload has

* ``generate()`` — write its inputs from the seed,
* ``setup(rec)`` — warm the engine (timed as part of ``setup_s``),
* ``begin_phase()`` — reset per-phase state, so the untraced and the
  traced phase of a traced run replay the same operation sequence,
* ``unit(rec, i)`` — one unit of work, made of timed operations,
* ``check(rec)`` — correctness checks outside the timed region,
* ``counts()`` — exact count metrics taken after ``COUNT_UNITS``
  units of the traced phase.

Why these two: ``sgp_build`` is the paper's headline pipeline (raw CSV
tree → marts), bound by planning and Spark job count; ``serving_mix``
is the query surface on seeded marts — the interactive draft app
(per-query fixed cost, ACID commits on a growing table) plus registered
queries over an sf 0.1 star schema, bound by execution.
"""

from __future__ import annotations

import os
import pathlib

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

#: ingest date of the fixture tree's newest snapshot; stale history
#: must sort below its unpadded ``_ptkey`` "2025310", so it uses
#: earlier years only
_LATEST = ("2025", "3", "10")


def _add_stale_history(raw: pathlib.Path, rng, n_dates: int) -> None:
    """Write ``n_dates`` older ingest dates for every latest-snapshot
    source. Each stale file is its latest file with every column
    permuted independently: same schema and size, but any stale row
    that survived the snapshot filter would change the marts."""
    from dbt_lakehouse_aws_spark.cli import RAW_TABLES

    days = set()
    while len(days) < n_dates:
        days.add((int(rng.integers(2015, 2025)), int(rng.integers(1, 13)),
                  int(rng.integers(1, 29))))
    for subdir, fmt, mode in RAW_TABLES.values():
        if mode not in ("latest", "latest_per_file"):
            continue
        sep = "\t" if fmt == "tsv" else ","
        latest = raw / subdir / "year={}/month={}/day={}".format(*_LATEST)
        for src in sorted(latest.iterdir()):
            df = pd.read_csv(src, sep=sep, dtype=str, keep_default_na=False)
            for y, m, d in sorted(days):
                out = raw / subdir / f"year={y}" / f"month={m}" / f"day={d}"
                out.mkdir(parents=True, exist_ok=True)
                stale = pd.DataFrame({c: rng.permutation(df[c].to_numpy()) for c in df})
                stale.to_csv(out / src.name, sep=sep, index=False)


def _sgp_expected(raw: pathlib.Path, league: str) -> dict[str, pd.DataFrame]:
    """The pandas oracle's marts (it reads only the latest ingest date)."""
    from dbt_lakehouse_aws_spark.sgp.config import LEAGUES
    from tests import sgp_oracle

    cfg = LEAGUES[league]
    src = sgp_oracle.load_sources(raw)
    ids = sgp_oracle.ids_frame(src["players"], src["id_map"])
    factors = sgp_oracle.factor_table(src["standings"])
    hit = sgp_oracle.hitting_values(src, ids, factors, cfg)
    pitch = sgp_oracle.pitching_values(src, ids, factors, cfg)
    return {
        "overall_rankings": sgp_oracle.overall_rankings(src, ids, hit, pitch, cfg),
        "factors_wide": factors,
    }


def _compare_marts(out_dir: str, want: dict[str, pd.DataFrame]) -> list[str]:
    """Mismatches between written marts and the oracle (empty = match)."""
    problems = []
    got = pq.read_table(f"{out_dir}/overall_rankings").to_pandas()
    g = got.set_index("id").sort_index()
    w = want["overall_rankings"].set_index("id").sort_index()
    if list(g.index) != list(w.index):
        return [f"overall_rankings ids: {len(g)} rows vs oracle {len(w)}"]
    if not (g["rank"].to_numpy() == w["rank"].to_numpy()).all():
        problems.append("overall_rankings rank")
    if not np.allclose(g["value"], w["value"], rtol=1e-9):
        problems.append("overall_rankings value")
    if not g["adp"].isna().equals(w["adp"].isna()):
        problems.append("overall_rankings adp nulls")
    has = ~g["adp"].isna()
    if not np.allclose(g.loc[has, "rank_diff"], w.loc[has, "rank_diff"], rtol=1e-9):
        problems.append("overall_rankings rank_diff")
    status = "projected_opening_day_status"
    if not (g[status].fillna("<N>") == w[status].fillna("<N>")).all():
        problems.append("overall_rankings roster status")
    gf = pq.read_table(f"{out_dir}/factors_wide").to_pandas()
    gf = gf.sort_values("_filename").reset_index(drop=True)
    wf = want["factors_wide"].sort_values("_filename").reset_index(drop=True)
    if list(gf["_filename"]) != list(wf["_filename"]):
        problems.append("factors_wide files")
    else:
        for c in (c for c in wf.columns if c.startswith("sgp_")):
            if not np.allclose(gf[c], wf[c], rtol=1e-9):
                problems.append(f"factors_wide {c}")
    if pq.read_table(f"{out_dir}/sgp_percentiles").num_rows == 0:
        problems.append("sgp_percentiles empty")
    return problems


def _source_counts(spark, raw: str) -> dict[str, float]:
    """Files scanned by every source, and rows kept ÷ rows read by the
    latest-snapshot filters, from one extra load (outside timing)."""
    from dbt_lakehouse_aws_spark.cli import RAW_TABLES, load_raw_sources
    from dbt_lakehouse_aws_spark.sources import reader

    raw_frames = {}
    original = reader.read_csv_source

    def capture(spark_, path, **kw):
        df = original(spark_, path, **kw)
        raw_frames[os.path.basename(path)] = df
        return df

    reader.read_csv_source = capture
    try:
        sources = load_raw_sources(spark, raw)
    finally:
        reader.read_csv_source = original
    files = read = kept = 0
    for name, (subdir, _fmt, mode) in RAW_TABLES.items():
        df = raw_frames[subdir]
        files += len(df.inputFiles())
        if mode in ("latest", "latest_per_file"):
            read += df.count()
            kept += sources[name].count()
    return {"sources.files_scanned": files, "sources.latest_row_share": kept / read}


# -- sgp_build ----------------------------------------------------------------


class SgpBuild:
    """One-league builds: load raw sources → run the SGP DAG → write the
    three marts. The cold first build of a session (the 50s league) is
    set-up; the timed units then alternate oc, 50s, so unit 0 of every
    run is the same warm oc build and both leagues are checked."""

    name = "sgp_build"
    unit_name = "sgp.build"
    MIN_UNITS = 1
    COUNT_UNITS = 1
    LEAGUES = ("oc", "50s")
    STALE_DATES = 6

    def __init__(self, spark, run_dir, seed: int) -> None:
        self.spark, self.dir, self.seed = spark, run_dir, seed
        self.pending: list[tuple[str, str]] = []  # (league, out dir) to check
        self.checked = 0

    def generate(self) -> None:
        from tests import sgp_fixtures

        self.raw = pathlib.Path(self.dir.sub(f"raw-{os.urandom(4).hex()}"))
        sgp_fixtures.gen_all(self.raw)
        _add_stale_history(self.raw, np.random.default_rng(self.seed), self.STALE_DATES)

    def setup(self, rec) -> None:
        self.build(rec, "50s")

    def begin_phase(self) -> None:
        pass

    def build(self, rec, league: str) -> None:
        from dbt_lakehouse_aws_spark import cli
        from dbt_lakehouse_aws_spark.sgp import pipeline
        from dbt_lakehouse_aws_spark.sgp.config import LEAGUES

        n = self.checked + len(self.pending)
        out_dir = os.path.join(self.dir.path, "marts", f"{league}-{n}")
        with rec.op("sources.load"):
            sources = cli.load_raw_sources(self.spark, str(self.raw))
        with rec.op("plans.graph_run"):
            marts = pipeline.run_pipeline(LEAGUES[league], sources)
        with rec.op("sgp.write_marts"):
            for mart in cli.MART_OUTPUTS:
                marts[mart].write.mode("overwrite").parquet(f"{out_dir}/{mart}")
        self.pending.append((league, out_dir))

    def unit(self, rec, i: int) -> None:
        self.build(rec, self.LEAGUES[i % 2])

    def check(self, rec) -> None:
        if not hasattr(self, "expected"):
            self.expected = {lg: _sgp_expected(self.raw, lg) for lg in self.LEAGUES}
        for league, out_dir in self.pending:
            rec.check(_compare_marts(out_dir, self.expected[league]), f"{league} marts {out_dir}")
        self.checked += len(self.pending)
        self.pending.clear()

    def counts(self) -> dict[str, float]:
        return _source_counts(self.spark, str(self.raw))


# -- serving_mix: draft turns --------------------------------------------------


class DraftSession:
    """A mock draft on seeded oc marts, one turn per ``unit``: five
    browse reads, then ``simulate_draft_pick`` (an ACID MERGE commit);
    every second turn also undoes one earlier pick (an ACID delete)."""

    PAGE = 50
    UNDO_EVERY = 2
    POSITIONS = ("C", "1B", "2B", "3B", "SS", "OF", "UT", "P")

    def __init__(self, spark, run_dir, seed: int) -> None:
        self.spark, self.dir, self.seed = spark, run_dir, seed
        self.phase = 0

    def generate(self) -> None:
        import martdata

        self.marts = martdata.write(
            os.path.join(self.dir.path, f"marts-{os.urandom(4).hex()}"), self.seed)

    def setup(self, rec) -> None:
        from dbt_lakehouse_aws_spark.serving import api as S

        self.mart = self.spark.read.parquet(self.marts["overall_rankings"])
        self.pct = self.spark.read.parquet(self.marts["sgp_percentiles"])
        self.base = S.rankings_scan(self.mart)
        self.n_rows = self.mart.count()
        # one warm-up turn on a board of its own
        self.begin_phase()
        self.unit(rec, 0)

    def begin_phase(self) -> None:
        """Fresh board and the same seeded choices, so every phase
        replays one draft."""
        self.phase += 1
        self.board = _timed_board(self.spark, self.dir.sub(f"board-{self.phase}"))
        self.rng = np.random.default_rng(self.seed)
        self.drafted: dict[str, str] = {}
        self.picks = self.undos = 0

    def unit(self, rec, i: int) -> None:
        from pyspark.sql import functions as F

        from dbt_lakehouse_aws_spark.serving import api as S

        rng, page = self.rng, self.PAGE
        self.board.rec = rec
        with rec.op("serving.rankings_scan"):
            rows = S.rankings_scan(self.mart).limit(page).collect()
        rec.check([] if [r["rank"] for r in rows] == list(range(1, page + 1))
                  else ["first page ranks"], "rankings_scan")

        token = f"last{int(rng.integers(10, 21))}"
        positions = list(rng.choice(self.POSITIONS, int(rng.integers(1, 3)), replace=False))
        with rec.op("serving.apply_filters"):
            hits = S.apply_filters(self.base, search=token, positions=positions)
            rows = hits.limit(page).collect()
        rec.check([] if all(token in r["name"].lower()
                            and set(r["pos"].split(",")) & set(positions) for r in rows)
                  else [f"filter {token} {positions}"], "apply_filters")

        after = int(rng.integers(0, self.n_rows))
        with rec.op("serving.keyset_page"):
            rows = S.keyset_page(self.base, after=after, page_size=page).collect()
        want = list(range(after + 1, min(after + page, self.n_rows) + 1))
        rec.check([] if [r["rank"] for r in rows] == want else [f"keyset after {after}"],
                  "keyset_page")

        cutoff = int(rng.integers(12, 121))
        with rec.op("serving.team_aggregates"):
            rows = S.team_aggregates(self.base.filter(F.col("rank") <= cutoff)).collect()
        rec.check([] if len(rows) == 1 and rows[0]["r"] > 0 else ["team totals"],
                  "team_aggregates")

        with rec.op("serving.latest_percentiles"):
            rows = S.latest_percentiles(self.pct, "OC").collect()
        rec.check([] if len(rows) == 10 else [f"{len(rows)} percentile rows"],
                  "latest_percentiles")

        self.picks += 1
        with rec.op("draft.pick"):
            chosen = S.simulate_draft_pick(self.base, self.board, current_pick=self.picks, rng=rng)
        rec.check([] if chosen and chosen[0] not in self.drafted else [f"pick {chosen}"],
                  "simulate_draft_pick")
        if chosen:
            self.drafted[chosen[0]] = chosen[1]
        if self.picks % self.UNDO_EVERY == 0 and self.drafted:
            victim = sorted(self.drafted)[int(rng.integers(0, len(self.drafted)))]
            self.board.delete(victim)
            del self.drafted[victim]
            self.undos += 1

    def check(self, rec) -> None:
        from pyspark.sql import functions as F

        from dbt_lakehouse_aws_spark.serving import api as S

        self.board.rec = None
        board_ids = sorted(self.board.drafted_ids())
        rec.check([] if len(board_ids) == self.picks - self.undos
                  and board_ids == sorted(self.drafted)
                  else [f"board {len(board_ids)} rows, want {self.picks - self.undos}"],
                  "board contents")
        pool = S.undrafted_pool(self.base, self.board)
        leaked = pool.filter(F.col("id").isin(board_ids)).count() if board_ids else 0
        rec.check([] if leaked == 0 else [f"{leaked} drafted ids in pool"], "undrafted_pool")
        scored = S.pick_probabilities(S.apply_filters(pool, require_adp=True),
                                      current_pick=self.picks + 1)
        total = scored.agg(F.sum("pick_prob")).first()[0]
        rec.check([] if abs(total - 1.0) < 1e-9 else [f"probabilities sum {total}"],
                  "pick_probabilities")

    def counts(self) -> dict[str, float]:
        table = self.board.table
        live_rows = len(self.board.scan())
        on_disk = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(table.path) for f in fs
        )
        return {
            "acid.log_entries": len(table.history()),
            "acid.data_files": len(table.snapshot().files),
            "acid.bytes_per_live_row": on_disk / max(live_rows, 1),
        }


def _timed_board(spark, path):
    """A ``DurableDraftBoard`` whose writes are timed operations."""
    from dbt_lakehouse_aws_spark.serving.api import DurableDraftBoard

    class TimedBoard(DurableDraftBoard):
        rec = None

        def put(self, player_id, player_name, *, my_team=False):
            if self.rec is None:
                return super().put(player_id, player_name, my_team=my_team)
            with self.rec.op("draft.write"):
                return super().put(player_id, player_name, my_team=my_team)

        def delete(self, player_id):
            if self.rec is None:
                return super().delete(player_id)
            with self.rec.op("draft.write"):
                return super().delete(player_id)

    return TimedBoard(spark, path)


# -- serving_mix: registered-query mix -----------------------------------------

#: registered queries of the mix, by the layer that implements them
MIX = {
    "operators": ("w4_global_order_rank", "asof_purchase_attribution"),
    "sources": ("s5_latest_snapshot",),
    "llmops": ("image_decode_features",),
}


class AnalyticsMix:
    """One pass over the query set per ``unit``, every query forced with
    ``count()`` on a seeded sf 0.1 star schema (150k orders, 100k
    events, 5k documents)."""

    SF = 0.1

    def __init__(self, spark, run_dir, seed: int) -> None:
        self.spark, self.dir, self.seed = spark, run_dir, seed
        self.rows: dict[str, int] = {}

    def generate(self) -> None:
        from stardata import write

        self.star = os.path.join(self.dir.path, f"star-{os.urandom(4).hex()}")
        write(self.star, self.SF, self.seed)

    def setup(self, rec) -> None:
        """Warm-up pass that doubles as the full correctness gate:
        every query's rows against its DuckDB oracle. Only the Spark
        side of it is timed as set-up."""
        import duckdb

        from dbt_lakehouse_aws_spark import standard_queries as SQ
        from dbt_lakehouse_aws_spark.oracle import compare_frames

        self.queries = SQ.all_queries()
        oracles = SQ.all_oracles()
        con = duckdb.connect()
        con.sql("SET threads = 2")
        for t in os.listdir(self.star):
            con.sql(f"CREATE VIEW {t.removesuffix('.parquet')} AS "
                    f"SELECT * FROM '{self.star}/{t}/*.parquet'")
        for name in (q for qs in MIX.values() for q in qs):
            with rec.op(f"query.{name}"):
                df = self.queries[name](self.spark, self.star)
                srows, scols = df.collect(), df.columns
            with rec.untimed():
                rel = con.sql(oracles[name])
                drows = rel.fetchall()
                rec.check(compare_frames(scols, srows, [c.lower() for c in rel.columns], drows),
                          f"oracle {name}")
            self.rows[name] = len(drows)
        con.close()

    def unit(self, rec, i: int) -> None:
        with rec.timed("mix.pass"):
            for name in (q for qs in MIX.values() for q in qs):
                with rec.op(f"query.{name}"):
                    n = self.queries[name](self.spark, self.star).count()
                rec.check([] if n == self.rows[name]
                          else [f"{n} rows, oracle {self.rows[name]}"], name)


class ServingMix:
    """The query surface a user of the marts sees: each unit is one
    draft turn followed by one pass over the registered-query mix."""

    name = "serving_mix"
    unit_name = "serving.turn"
    MIN_UNITS = 4
    COUNT_UNITS = 2

    def __init__(self, spark, run_dir, seed: int) -> None:
        self.draft = DraftSession(spark, run_dir, seed)
        self.mix = AnalyticsMix(spark, run_dir, seed)

    def generate(self) -> None:
        self.draft.generate()
        self.mix.generate()

    def setup(self, rec) -> None:
        self.draft.setup(rec)
        self.mix.setup(rec)

    def begin_phase(self) -> None:
        self.draft.begin_phase()

    def unit(self, rec, i: int) -> None:
        self.draft.unit(rec, i)
        self.mix.unit(rec, i)

    def check(self, rec) -> None:
        self.draft.check(rec)

    def counts(self) -> dict[str, float]:
        return self.draft.counts()


WORKLOADS = {w.name: w for w in (SgpBuild, ServingMix)}
