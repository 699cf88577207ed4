"""The closed-loop workloads: one client, one operation at a time.

Each workload generates its inputs from the seed, builds one operation
through the program's public entry points, materializes it for real
(``noop`` sink or a checkpoint commit, never ``count()``) and checks it
against an oracle that does not run through the program. An operation's
output is observed as it is written: row count plus a digest, compared
outside the timed region with the digest the oracle produced.
"""

from __future__ import annotations

import os
import re
import shutil

import duckdb
import numpy as np
import pyarrow.parquet as pq

from . import inputs
from .trace import NULL_TRACER

# Portable row digest: two linear hashes over integer columns, reduced
# modulo primes and summed. DuckDB and Spark evaluate the same SQL text,
# so a digest observed on a Spark write can be compared with DuckDB's.
_M1, _M2 = 2147483647, 2147483629
_P1 = (1000003, 10007, 101, 7, 1, 3, 1009, 13)
_P2 = (3, 1000033, 17, 100003, 29, 1, 11, 100019)


def digest_sql(cols: list[str]) -> list[str]:
    if len(cols) > len(_P1):
        raise ValueError(f"digest covers at most {len(_P1)} columns, got {len(cols)}")
    terms = [f"CAST(coalesce({c}, 0) AS BIGINT)" for c in cols]
    h1 = " + ".join(f"{t} * {p}" for t, p in zip(terms, _P1))
    h2 = " + ".join(f"{t} * {p}" for t, p in zip(terms, _P2))
    return ["count(*)", f"sum(({h1}) % {_M1})", f"sum(({h2}) % {_M2})"]


def duck_digest(con, from_sql: str, cols: list[str]) -> tuple[int, ...]:
    row = con.execute(f"SELECT {', '.join(digest_sql(cols))} FROM {from_sql}").fetchone()
    return tuple(int(v or 0) for v in row)


def observe_write(df, tr, obs_name: str, exprs: list) -> tuple[int, ...]:
    """Plan, then write df to the noop sink while observing exprs; returns
    the observed values."""
    from pyspark.sql import Observation

    obs = Observation(obs_name)
    out = df.observe(obs, *[e.alias(f"_d{i}") for i, e in enumerate(exprs)])
    with tr.span("plan"):
        out._jdf.queryExecution().executedPlan()
    with tr.span("execute"):
        out.write.format("noop").mode("overwrite").save()
    vals = obs.get
    return tuple(int(vals[f"_d{i}"] or 0) for i in range(len(exprs)))


def _portable(cols: list[str]) -> list:
    from pyspark.sql import functions as F

    return [F.expr(s) for s in digest_sql(cols)]


class Workload:
    name = ""
    # untimed operations between the oracle check and the measured loop:
    # the first operations after set-up still run partly interpreted code
    settle_ops = 1

    def __init__(self, data_dir: str, work_dir: str, seed: int) -> None:
        self.data = data_dir
        self.work = work_dir
        self.seed = seed
        self.expected: dict[str, object] = {}
        # candidate pairs per operation, keyed by the description of the
        # SQL executions they belong to (None: all of the operation's)
        self.candidates: dict[str | None, int] = {}

    def generate(self) -> None:
        raise NotImplementedError

    def rows_in(self) -> int:
        raise NotImplementedError

    def run_op(self, spark, tr, n: int) -> dict:
        raise NotImplementedError

    def oracle(self) -> None:
        """Oracle work that needs no Spark, run before the session starts
        (outside timing)."""

    def first_op(self, spark, n: int) -> None:
        """The set-up's warm-up operation: one untimed, unchecked
        operation."""
        self.cleanup(self.run_op(spark, NULL_TRACER, n))

    def verify(self, spark) -> list[str]:
        """Compute the oracle's expected output (outside
        timing). Returns the failures found."""
        raise NotImplementedError

    def check(self, spark, res: dict) -> list[str]:
        want = self.expected.get("pass")
        if res["digest"] != want:
            return [f"digest {res['digest']} != expected {want}"]
        return []

    def record(self, res: dict) -> dict:
        """Per-operation facts to keep beside its time."""
        return {}

    def cleanup(self, res: dict) -> None:
        pass


# ---------------------------------------------------------------------------
# driver_headline
# ---------------------------------------------------------------------------

HEADLINE = ("q_qt_assign", "q_cell_counts", "q_range_join", "q_pip_join",
            "q_knn", "q_raster", "q_topk_per_cell", "q_agg_wide")
# a Project node whose output computes qt_code ("formatted" explain mode)
QT_CODE_PROJECT = re.compile(r"\) Project\b[^\n]*\nOutput \[\d+\]: \[[^\n]* AS qt_code#")
# input tables each query reads (its input rows are theirs)
HEADLINE_INPUTS = {
    "q_qt_assign": ("lineitem",), "q_cell_counts": ("lineitem",),
    "q_range_join": ("lineitem", "supplier"), "q_pip_join": ("customer", "supplier"),
    "q_knn": ("lineitem", "nation"), "q_raster": ("lineitem",),
    "q_topk_per_cell": ("lineitem",), "q_agg_wide": ("lineitem",),
}


_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def _integral(df) -> bool:
    return all(t in _INTEGRAL for _, t in df.dtypes)


def _digest(df) -> list:
    """The portable digest when every column is an integer, so DuckDB can
    compute the same; else count plus a sum of xxhash64 over the row."""
    from pyspark.sql import functions as F

    if _integral(df):
        return _portable(sorted(df.columns))
    h = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(_M1))
    return [F.count(F.lit(1)), F.sum(h)]




def _normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def frames_equal(got, want) -> str | None:
    """None when two pandas frames hold the same multiset of rows."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            av, bv = av.astype(np.float64), bv.astype(np.float64)
            bad = ~((av == bv) | (np.isnan(av) & np.isnan(bv)))
        else:
            bad = av != bv
        if bad.any():
            i = int(np.argmax(bad))
            return f"column {c}: {int(bad.sum())} rows differ, first {av[i]!r} != {bv[i]!r}"
    return None


class DriverHeadline(Workload):
    """One operation is one pass of the 8 headline queries, in a fixed
    order, over seeded sf0.1 lineitem / supplier / customer / nation
    tables: the unit the driver times."""

    name = "driver_headline"
    # the set-up's pass is the checked pass; the first pass after it
    # still reads 10-30% slow
    settle_ops = 1

    def generate(self) -> None:
        self.tables = inputs.write_tpch(self.data, self.seed)

    def rows_in(self) -> int:
        return sum(self.tables[t] for q in HEADLINE for t in HEADLINE_INPUTS[q])

    def run_op(self, spark, tr, n: int) -> dict:
        import __spark_entry__ as entry

        digests = {}
        for q in HEADLINE:
            if tr.enabled:  # names the query's SQL executions for the trace
                spark.sparkContext.setJobDescription(q)
            with tr.span("build"), tr.span(f"entry.build.{q}"):
                df = entry.queries()[q](spark, self.data)
            digests[q] = observe_write(df, tr, f"op{n}-{q}", _digest(df))
        if tr.enabled:
            spark.sparkContext.setJobDescription(None)
        return {"digest": digests}

    def _duck(self):
        con = duckdb.connect()
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        return con

    def oracle(self) -> None:
        """Each query's oracle_sql() twin, run on DuckDB over the same
        files before the session starts, so it neither competes with
        Spark nor falls inside set-up."""
        import __spark_entry__ as entry

        self._con = con = self._duck()
        osql = entry.oracle_sql()
        self._want = {q: con.execute(osql[q]).arrow() for q in HEADLINE}
        self.candidates["q_range_join"] = self._range_join_candidates(con)

    def first_op(self, spark, n: int) -> None:
        """The set-up's warm-up pass doubles as the checked pass. A result
        of integer columns only is written to the noop sink exactly as in
        a timed pass and its portable digest kept; any other result is
        collected, keeping the digest observed while collecting. Each
        query's SQL executions carry its name, so verify() can find the
        recorded plan of q_qt_assign's write."""
        from pyspark.sql import Observation

        import __spark_entry__ as entry

        sc = spark.sparkContext
        self._first = {}
        for q in HEADLINE:
            sc.setJobDescription(q)
            df = entry.queries()[q](spark, self.data)
            exprs = _digest(df)
            if _integral(df):
                digest = observe_write(df, NULL_TRACER, f"first-{q}", exprs)
                self._first[q] = (digest, sorted(df.columns), None)
                continue
            obs = Observation(f"first-{q}")
            got = df.observe(obs, *[e.alias(f"_d{j}") for j, e in enumerate(exprs)]) \
                .toArrow().to_pandas()
            vals = obs.get
            digest = tuple(int(vals[f"_d{j}"] or 0) for j in range(len(exprs)))
            self._first[q] = (digest, None, got)
        sc.setJobDescription(None)

    def verify(self, spark) -> list[str]:
        """Check the set-up pass against the DuckDB oracle: an integer
        result's digest must equal DuckDB's digest of the oracle rows, any
        other result must equal them row for row. The checked digests
        become the expected digests of the timed passes. Self-test: the
        plan recorded for q_qt_assign's noop write, the same write a timed
        pass makes, must compute the quadtree code, which a count() would
        have pruned away."""
        failures = []
        self.expected["pass"] = {}
        for q in HEADLINE:
            digest, cols, rows = self._first[q]
            want = self._want[q]
            if rows is None:
                self._con.register("want", want)
                want_digest = duck_digest(self._con, "want", cols)
                self._con.unregister("want")
                if digest != want_digest:
                    failures.append(f"{q}: digest {digest} != oracle {want_digest}")
                    continue
            else:
                err = frames_equal(rows, want.to_pandas())
                if err:
                    failures.append(f"{q}: {err}")
                    continue
            self.expected["pass"][q] = digest
        if not QT_CODE_PROJECT.search(recorded_plan(spark, "q_qt_assign")):
            failures.append("q_qt_assign: timed plan has no qt_code projection")
        del self._first, self._want, self._con
        return failures

    def check(self, spark, res: dict) -> list[str]:
        want = self.expected["pass"]
        return [f"{q}: digest {res['digest'][q]} != expected {want.get(q)}"
                for q in HEADLINE if res["digest"][q] != want.get(q)]

    def _range_join_candidates(self, con) -> int:
        from optimizing_spark.sources import derived as D

        objs = con.execute(f"SELECT ix AS min_x, iy AS min_y, ix + sx AS max_x, "
                           f"iy + sy AS max_y FROM ({D.SQL_OBJECTS})").fetchnumpy()
        qb = con.execute(f"SELECT q_min_x AS min_x, q_min_y AS min_y, q_max_x AS max_x, "
                         f"q_max_y AS max_y FROM ({D.SQL_QUERY_BOXES})").fetchnumpy()
        return inputs.candidate_pairs(objs, qb)


def recorded_plan(spark, description: str) -> str:
    """Physical plan of the latest SQL execution with this description,
    as the status store recorded it."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(10_000)
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    last = None
    while it.hasNext():
        ex = it.next()
        if ex.description() == description and (
                last is None or ex.executionId() > last.executionId()):
            last = ex
    return last.physicalPlanDescription() if last is not None else ""


# ---------------------------------------------------------------------------
# docs_pipeline
# ---------------------------------------------------------------------------

VIEWPORTS = 100      # broadcast viewport boxes per pass
VIEWPORT_EDGE = 2048
TOP_K = 10
READBACK_PREFIX = 9  # the cell_prefix viewport read back from the stage


def quadtree_oracle(ix, iy, sx, sy, max_depth: int = 4, bits: int = 16):
    """Static-quadtree (depth, code, depth-2 prefix) by common-prefix
    length: a box [min, min+size) stays in one depth-d cell iff min and
    min+size agree on their top d bits."""
    world = 1 << bits
    mx, my = ix + sx, iy + sy
    common = np.minimum(bits - _bitlen(ix ^ mx), bits - _bitlen(iy ^ my))
    depth = np.where((mx < world) & (my < world), np.minimum(common, max_depth), 0)
    cx = ix >> (bits - max_depth)
    cy = iy >> (bits - max_depth)
    m = np.zeros_like(cx)
    for b in range(max_depth):
        m |= ((cx >> b) & 1) << (2 * b) | ((cy >> b) & 1) << (2 * b + 1)
    code = m >> (2 * (max_depth - depth))
    prefix = code >> (2 * (depth - np.minimum(depth, 2)))
    return depth, code, prefix


def _bitlen(v: np.ndarray) -> np.ndarray:
    out = np.zeros_like(v)
    v = v.copy()
    while (v > 0).any():
        nz = v > 0
        out[nz] += 1
        v >>= 1
    return out


_DOC_NUM = "CAST(substr(doc_id, 5) AS BIGINT)"
_DOCS_COLS = ["part", "a", "b", "c", _DOC_NUM]
_READBACK_COLS = [_DOC_NUM, "ix", "iy", "qt_depth", "qt_code"]


def _aggregates(spark, tiled):
    """_docs_job's three results as one union: per-cell histogram (part
    1), broadcast viewport hits (part 2), per-cell top-k by ix (part 3)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from optimizing_spark.plans import pipeline

    hist = pipeline.docs_cell_histogram(tiled)
    boxes = spark.range(VIEWPORTS).select(
        F.col("id").alias("query_id"),
        F.pmod(F.col("id") * 48271, F.lit(1 << 16)).alias("min_x"),
        F.pmod(F.col("id") * 69621, F.lit(1 << 16)).alias("min_y"),
    ).withColumn("max_x", F.col("min_x") + VIEWPORT_EDGE) \
     .withColumn("max_y", F.col("min_y") + VIEWPORT_EDGE)
    hits = pipeline.docs_range_query(tiled, boxes)
    w = Window.partitionBy("qt_depth", "qt_code").orderBy(F.col("ix").desc(), "doc_id")
    top = tiled.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= TOP_K)
    null = F.lit(None).cast("long")
    return hist.select(F.lit(1).alias("part"), F.col("qt_depth").cast("long").alias("a"),
                       F.col("qt_code").cast("long").alias("b"),
                       F.col("n_docs").cast("long").alias("c"),
                       F.lit(None).cast("string").alias("doc_id")) \
        .unionByName(hits.select(F.lit(2).alias("part"),
                                 F.col("query_id").cast("long").alias("a"),
                                 null.alias("b"), null.alias("c"), "doc_id")) \
        .unionByName(top.select(F.lit(3).alias("part"),
                                F.col("qt_depth").cast("long").alias("a"),
                                F.col("qt_code").cast("long").alias("b"),
                                F.col("rk").cast("long").alias("c"), "doc_id"))


_AGGREGATES_SQL = f"""(
    SELECT 1 AS part, qt_depth AS a, qt_code AS b, count(*) AS c, NULL AS doc_id
    FROM tiled GROUP BY qt_depth, qt_code
    UNION ALL
    SELECT 2, query_id, NULL, NULL, doc_id FROM tiled JOIN (
        SELECT id AS query_id, (id * 48271) % 65536 AS min_x, (id * 69621) % 65536 AS min_y,
               (id * 48271) % 65536 + {VIEWPORT_EDGE} AS max_x,
               (id * 69621) % 65536 + {VIEWPORT_EDGE} AS max_y
        FROM range({VIEWPORTS}) t(id)) boxes
      ON ix BETWEEN min_x AND max_x AND iy BETWEEN min_y AND max_y
    UNION ALL
    SELECT 3, qt_depth, qt_code, rk, doc_id FROM (
      SELECT *, row_number() OVER (PARTITION BY qt_depth, qt_code
                                   ORDER BY ix DESC, doc_id) AS rk FROM tiled)
    WHERE rk <= {TOP_K})"""


class DocsPipeline(Workload):
    """One pass of the north-rule document pipeline per operation: read
    the documents and tile_documents(how='jvm'); commit the tiled stage
    through checkpoint_stage partitioned by cell_prefix; repeat the call,
    which must resume; then, from the stage read_stage returns, the
    per-cell histogram, broadcast viewport join and per-cell windowed
    top-k as one union to the noop sink, and one cell_prefix viewport
    read back to the noop sink."""

    name = "docs_pipeline"

    def generate(self) -> None:
        self.docs = os.path.join(self.data, "docs")
        self.n_docs = inputs.write_documents(self.docs, self.seed)

    def rows_in(self) -> int:
        return self.n_docs

    def _tiled(self, spark):
        from optimizing_spark.plans import pipeline

        docs = spark.read.parquet(self.docs).select("doc_id", "spans")
        return pipeline.tile_documents(docs, how="jvm")

    def run_op(self, spark, tr, n: int) -> dict:
        from pyspark.sql import functions as F

        from optimizing_spark.plans import checkpoint

        root = os.path.join(self.work, f"stage-{n}")
        args = dict(partition_by=["cell_prefix"], inputs=[self.docs],
                    fingerprint=f"seed-{self.seed}")
        with tr.span("build"):
            tiled = self._tiled(spark)
        with tr.span("execute"):
            first = checkpoint.checkpoint_stage(spark, tiled, root, "tiled", **args)
        with tr.span("resume"):
            again = checkpoint.checkpoint_stage(spark, tiled, root, "tiled", **args)
        with tr.span("build"):
            stage = checkpoint.read_stage(spark, root, "tiled")
            out = _aggregates(spark, stage)
        digest = observe_write(out, tr, f"op{n}", _portable(_DOCS_COLS))
        with tr.span("build"):
            back = stage.filter(F.col("cell_prefix") == READBACK_PREFIX)
        viewport = observe_write(back, tr, f"op{n}v", _portable(_READBACK_COLS))
        return {"digest": digest, "viewport": viewport, "root": root,
                "first": first, "again": again}

    def verify(self, spark) -> list[str]:
        """Write the tiled columns once, check the tiling against
        quadtree_oracle and the input, and let DuckDB compute the
        expected union and viewport from them."""
        ref = os.path.join(self.work, "ref_tiled")
        self._tiled(spark).select("doc_id", "ix", "iy", "sx", "sy", "qt_depth", "qt_code",
                                  "cell_prefix").write.mode("overwrite").parquet(ref)
        t = pq.read_table(ref)
        failures = []
        ids = pq.read_table(self.docs, columns=["doc_id"]).column("doc_id")
        if sorted(t.column("doc_id").to_pylist()) != sorted(ids.to_pylist()):
            failures.append("tiled doc_ids differ from the input's")
        cols = {c: t.column(c).to_numpy().astype(np.int64)
                for c in ("ix", "iy", "sx", "sy", "qt_depth", "qt_code", "cell_prefix")}
        depth, code, prefix = quadtree_oracle(cols["ix"], cols["iy"], cols["sx"], cols["sy"])
        for name, want in (("qt_depth", depth), ("qt_code", code), ("cell_prefix", prefix)):
            bad = int((cols[name] != want).sum())
            if bad:
                failures.append(f"{name} differs from the quadtree oracle on {bad} rows")
        self._con = con = duckdb.connect()
        con.execute(f"CREATE VIEW tiled AS SELECT * FROM '{ref}/*.parquet'")
        hist_n = con.execute("SELECT sum(c) FROM {} WHERE part = 1".format(
            _AGGREGATES_SQL)).fetchone()[0]
        if hist_n != self.n_docs:
            failures.append(f"histogram sums to {hist_n}, not {self.n_docs}")
        self.expected["pass"] = duck_digest(con, _AGGREGATES_SQL, _DOCS_COLS)
        self.expected["viewport"] = duck_digest(
            con, f"tiled WHERE cell_prefix = {READBACK_PREFIX}", _READBACK_COLS)
        return failures

    def check(self, spark, res: dict) -> list[str]:
        first, again = res["first"], res["again"]
        failures = super().check(spark, res)
        if res["viewport"] != self.expected["viewport"]:
            failures.append("read-back viewport differs from the tiled rows")
        if first.resumed or first.rows != self.n_docs:
            failures.append(f"commit: resumed={first.resumed} rows={first.rows}")
        if not again.resumed or (again.rows, again.bytes, again.partitions) != (
                first.rows, first.bytes, first.partitions):
            failures.append("repeated commit did not resume with identical stats")
        # the committed files themselves, read by DuckDB
        files = f"read_parquet('{first.path}/*/*.parquet', hive_partitioning = true)"
        rows = self._con.execute(f"SELECT count(*) FROM {files}").fetchone()[0]
        if rows != self.n_docs:
            failures.append(f"committed files hold {rows} rows, not {self.n_docs}")
        got = duck_digest(self._con, f"{files} WHERE cell_prefix = {READBACK_PREFIX}",
                          _READBACK_COLS)
        if got != self.expected["viewport"]:
            failures.append("committed viewport differs from the tiled rows")
        return failures

    def record(self, res: dict) -> dict:
        return {key: {"rows": st.rows, "bytes": st.bytes, "resumed": st.resumed,
                      "files": sum(p["files"] for p in st.partitions)}
                for key, st in (("first", res["first"]), ("again", res["again"]))}

    def cleanup(self, res: dict) -> None:
        shutil.rmtree(res["root"], ignore_errors=True)


# ---------------------------------------------------------------------------
# skewed_join
# ---------------------------------------------------------------------------

_PAIR_COLS = ["query_id", "obj_id"]


class SkewedJoin(Workload):
    """range_join(convention='rect', depth=6) over seeded boxes with a
    planted hot depth-6 cell."""

    name = "skewed_join"

    def generate(self) -> None:
        self.sizes = inputs.write_skewed_boxes(self.data, self.seed)

    def rows_in(self) -> int:
        return self.sizes["objects"] + self.sizes["queries"]

    def run_op(self, spark, tr, n: int) -> dict:
        from optimizing_spark.config import POW2_WORLD_2D
        from optimizing_spark.operators import joins

        with tr.span("build"):
            objs = spark.read.parquet(os.path.join(self.data, "objects.parquet"))
            qs = spark.read.parquet(os.path.join(self.data, "queries.parquet"))
            out = joins.range_join(objs, qs, POW2_WORLD_2D, depth=6, convention="rect") \
                .select("query_id", "obj_id")
        return {"digest": observe_write(out, tr, f"op{n}", _portable(_PAIR_COLS))}

    def verify(self, spark) -> list[str]:
        con = duckdb.connect()
        o = os.path.join(self.data, "objects.parquet")
        q = os.path.join(self.data, "queries.parquet")
        # rect convention: q.min < o.max and q.max >= o.min on both axes
        self.expected["pass"] = duck_digest(con, f"""(
            SELECT q.query_id, o.obj_id FROM '{q}' q JOIN '{o}' o
              ON q.min_x < o.max_x AND q.max_x >= o.min_x
             AND q.min_y < o.max_y AND q.max_y >= o.min_y)""", _PAIR_COLS)
        cols = ("min_x", "min_y", "max_x", "max_y")
        self.candidates[None] = inputs.candidate_pairs(
            {c: v.to_numpy() for c, v in zip(cols, pq.read_table(o, columns=list(cols)).columns)},
            {c: v.to_numpy() for c, v in zip(cols, pq.read_table(q, columns=list(cols)).columns)})
        return []


WORKLOADS = {w.name: w for w in (DriverHeadline, DocsPipeline, SkewedJoin)}
