"""The weekly refresh flows the benchmark times, driven only through the
public functions of the hiring-audit modules.

Full refresh (the reference's weekly cron, production defaults):
landed parquet -> BRONZE with lineage -> EP2a ``fuzzy_match_salary``
(WRatio lane, 85/85) materialised as a BRONZE table -> EP2b
``fuzzy_match_durations`` (75/75) -> the four GOLD tables via
``publish_gold``.

Delta refresh (one new postings batch against persisted state):
landed batch -> ``read_title_index`` (bucketed) ->
``incremental_fuzzy_match_salary`` (tokensort probe) -> BRONZE ->
``gold_matches_state_refresh`` -> republished salary GOLD tables. The two
durations GOLD tables are left as published at set-up.

Every call into a layer runs inside a tracer span named after the layer.
"""

from __future__ import annotations

import contextlib
import os
import shutil

from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
from nyc_government_hiring_audit_data_platform_spark.pipelines import catalog as CAT
from nyc_government_hiring_audit_data_platform_spark.pipelines import hiring_audit as HA
from nyc_government_hiring_audit_data_platform_spark.sources import files as FILES

SOURCES = {
    "payroll": "nyc_payroll_data",
    "postings": "nyc_job_postings_data",
    "lightcast": "lightcast_top_posted_occupations_SOC",
}
MATCHES = "payroll_to_jobs_title_fuzzy_matches"
DURATIONS = "jobs_to_lightcast_title_fuzzy_matches"
BATCH = "payroll_to_jobs_title_fuzzy_matches_batch"
# the tokensort lane reads prefilter_cutoff as its minimum of shared
# tokens; 1 is what the repo's own tokensort callers pass
TOKENSORT = {"prefilter_cutoff": 1, "score_cutoff": 85}
GOLD_TABLES = (
    "nyc_salary_matches",
    "nyc_matched_job_posting_duration_SOC",
    "nyc_salary_matches_unique_job_posting_title",
    "nyc_matched_job_posting_duration_SOC_unique_title",
)


def storage_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> dict:
    """Bytes and data files (not ``_``/``.``-prefixed) that are new or
    rewritten in ``after``."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return {
        "bytes_written": sum(after[p][0] for p in new),
        "files_written": sum(not os.path.basename(p).startswith(("_", ".")) for p in new),
    }


class Env:
    """A run's Spark session, tracer and storage root (landing zone,
    warehouse, GOLD state and title index all live under ``root``)."""

    def __init__(self, spark, tracer, root: str):
        self.spark, self.tr, self.root = spark, tracer, root
        self.landing = os.path.join(root, "landing")
        self.state = os.path.join(root, "state")
        self.warehouse = os.path.join(root, "warehouse")
        self.index_dir = os.path.join(root, "title_index")

    def table(self, ns: str, name: str):
        return CAT.read_table(self.spark, ns, name)

    @contextlib.contextmanager
    def _write_span(self, name: str, **attrs):
        """A span that, when tracing, also records what the write stored."""
        with self.tr.span(name, **attrs) as rec:
            before = storage_files(self.root) if self.tr.enabled else None
            yield
            if before is not None:
                rec.update(written(before, storage_files(self.root)))

    def save(self, df, ns: str, name: str, mode: str = "overwrite") -> None:
        with self._write_span("pipelines.catalog.save_table", table=f"{ns}.{name}"):
            CAT.save_table(df, ns, name, mode=mode)

    def publish(self, tables: dict, mode: str = "overwrite") -> None:
        with self._write_span("pipelines.catalog.publish_gold", tables=sorted(tables)):
            CAT.publish_gold(self.spark, tables, mode=mode)

    def write_files(self, df, path: str) -> None:
        with self._write_span("sources.files.write_table", path=os.path.relpath(path, self.root)):
            FILES.write_table(df, path)


def land(env: Env, paths: dict[str, str], names: list[str]) -> dict:
    """EP1: copy each source into the landing zone and read it back."""
    out = {}
    with env.tr.span("sources.files.land"):
        for name in names:
            dest = os.path.join(env.landing, SOURCES.get(name, name))
            env.write_files(FILES.read_table(env.spark, paths[name]), dest)
            out[name] = FILES.read_table(env.spark, dest)
    return out


def to_bronze(env: Env, landed: dict) -> dict:
    with env.tr.span("pipelines.catalog.bronze"):
        CAT.ensure_namespaces(env.spark)
        for name, df in landed.items():
            env.save(HA.register_bronze(df, f"{SOURCES[name]}.parquet"), CAT.BRONZE, SOURCES[name])
    return {name: env.table(CAT.BRONZE, SOURCES[name]) for name in landed}


def gold_tables(matches, durations) -> dict:
    return {
        "nyc_salary_matches": HA.gold_salary_matches(matches),
        "nyc_matched_job_posting_duration_SOC": HA.gold_durations(durations),
        "nyc_salary_matches_unique_job_posting_title": HA.gold_salary_matches_unique(matches),
        "nyc_matched_job_posting_duration_SOC_unique_title": HA.gold_durations_unique(durations),
    }


def full_refresh(env: Env, paths: dict[str, str]) -> None:
    bronze = to_bronze(env, land(env, paths, ["payroll", "postings", "lightcast"]))
    with env.tr.span("pipelines.hiring_audit.match_salary"):
        env.save(HA.fuzzy_match_salary(bronze["payroll"], bronze["postings"]), CAT.BRONZE, MATCHES)
    matches = env.table(CAT.BRONZE, MATCHES)
    with env.tr.span("pipelines.hiring_audit.match_durations"):
        env.save(HA.fuzzy_match_durations(matches, bronze["lightcast"]), CAT.BRONZE, DURATIONS)
    with env.tr.span("pipelines.hiring_audit.gold"):
        env.publish(gold_tables(matches, env.table(CAT.BRONZE, DURATIONS)))


# -- weekly delta -------------------------------------------------------------


def state_path(env: Env, version: int) -> str:
    return os.path.join(env.state, "gold_matches_state", f"v{version}")


def delta_setup(env: Env, paths: dict[str, str]) -> dict[str, set[str]]:
    """Persist the delta workload's prerequisite state: the bucketed
    payroll title index, prior (tokensort-lane) matches, the GOLD state
    and all four GOLD tables. Returns the file sets of the tables a delta
    refresh appends to, for :func:`delta_restore`."""
    bronze = to_bronze(env, land(env, paths, ["payroll", "postings", "lightcast"]))
    FZ.write_title_index(
        HA.build_payroll_title_index(bronze["payroll"]), env.index_dir, index_format="bucketed"
    )
    env.save(
        HA.fuzzy_match_salary(bronze["payroll"], bronze["postings"], join_fn=FZ.fuzzy_join_tokensort,
                              **TOKENSORT),
        CAT.BRONZE, MATCHES,
    )
    matches = env.table(CAT.BRONZE, MATCHES)
    env.write_files(HA.gold_matches_state(matches), state_path(env, 0))
    env.save(HA.fuzzy_match_durations(matches, bronze["lightcast"]), CAT.BRONZE, DURATIONS)
    env.publish(gold_tables(matches, env.table(CAT.BRONZE, DURATIONS)))
    return {t: _files(_table_dir(env, ns, t)) for ns, t in _APPENDED}


_APPENDED = ((CAT.BRONZE, MATCHES), (CAT.GOLD, "nyc_salary_matches"))


def _table_dir(env: Env, ns: str, name: str) -> str:
    return os.path.join(env.warehouse, f"{ns}.db", name.lower())


def _files(root: str) -> set[str]:
    return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs}


def delta_restore(env: Env, snapshot: dict[str, set[str]]) -> None:
    """Undo the appends of earlier delta refreshes so every refresh
    starts from the set-up state (untimed)."""
    for ns, table in _APPENDED:
        for path in _files(_table_dir(env, ns, table)) - snapshot[table]:
            os.remove(path)
        env.spark.catalog.refreshTable(f"{ns}.{table}")
    shutil.rmtree(state_path(env, 1), ignore_errors=True)


def delta_refresh(env: Env, paths: dict[str, str]) -> None:
    delta = land(env, paths, ["delta_postings"])["delta_postings"]
    with env.tr.span("operators.fuzzy.read_title_index"):
        index = FZ.read_title_index(env.spark, env.index_dir)
    payroll = env.table(CAT.BRONZE, SOURCES["payroll"])
    with env.tr.span("pipelines.hiring_audit.match_salary"):
        env.save(HA.incremental_fuzzy_match_salary(payroll, index, delta, **TOKENSORT), CAT.BRONZE, BATCH)
        batch = env.table(CAT.BRONZE, BATCH)
        env.save(batch, CAT.BRONZE, MATCHES, mode="append")
    with env.tr.span("operators.incremental.state_fold"):
        state = FILES.read_table(env.spark, state_path(env, 0))
        env.write_files(HA.gold_matches_state_refresh(state, batch), state_path(env, 1))
    with env.tr.span("pipelines.hiring_audit.gold"):
        new_state = FILES.read_table(env.spark, state_path(env, 1))
        env.publish({"nyc_salary_matches_unique_job_posting_title":
                     HA.gold_salary_matches_unique_from_state(new_state)})
        env.publish({"nyc_salary_matches": HA.gold_salary_matches(batch)}, mode="append")


def one_shot_tokensort(env: Env, paths: dict[str, str]):
    """The delta workload's reference answer: one full tokensort-lane
    match over base plus delta postings."""
    read = lambda n: FILES.read_table(env.spark, paths[n])  # noqa: E731
    postings = read("postings").unionByName(read("delta_postings"))
    return HA.fuzzy_match_salary(read("payroll"), postings, join_fn=FZ.fuzzy_join_tokensort, **TOKENSORT)
