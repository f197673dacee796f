"""The compiled request plan — build once per deployment, swap staged
Arrow rows per call (the Spark analog of the reference's per-DEPLOY
compiled-plan cache, ``hybridse/src/vm/engine.cc:453-496``). Split from
:mod:`openmldb_spark.engine.serving` (house <=900-line module bar)."""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: spark.conf key naming a shared-filesystem directory for staged request
#: batches (the ``Engine(staging_dir=...)`` argument takes precedence)
STAGING_DIR_CONF = "spark.openmldb.serving.stagingDir"


def resolve_staging_dir(master: str, explicit: str | None) -> str | None:
    """Pick the staging root for compiled-plan request batches.

    ``explicit`` (Engine arg or the ``spark.openmldb.serving.stagingDir``
    conf) wins. With no explicit dir, a driver-local tempdir is only
    correct when driver and executors share a filesystem — i.e. local
    mode; on any other master this RAISES instead of silently serving
    empty results when executors fail to open the driver's tempfile. The
    reference has no such gap (request rows travel inside the RPC,
    ``src/sdk/sql_cluster_router.h:116-190``); ours is a file handoff, so
    the cluster contract is enforced here rather than docstring-only.
    """
    if explicit:
        return explicit
    if not master.startswith("local"):
        raise RuntimeError(
            "compiled request serving stages rows in a file that every "
            f"executor must read; spark.master={master!r} is non-local, so "
            "pass Engine(staging_dir=...) or set spark conf "
            f"{STAGING_DIR_CONF!r} to a shared-filesystem path (NFS/EFS/"
            "Lustre) visible to all executors"
        )
    return None


#: spark.conf key for the fixed size (bytes) of the JVM-staged request
#: file; requests whose encoding exceeds it raise with instructions
STAGING_BYTES_CONF = "spark.openmldb.serving.stagingBytes"
DEFAULT_STAGING_BYTES = 262_144

#: serving-tuned confs applied to an ISOLATED serving session (a
#: ``newSession()`` clone — own conf, shared SparkContext/catalog/cache):
#: AQE's per-stage materialization and 32-task shuffle stages are built
#: for data-sized queries, but a serve's shuffles carry request-row-sized
#: data (history is key-pruned), so the fixed tiny plan wins ~40% wall
#: latency. The compiled plan's physical plan is built once on the
#: clone, so it carries the serving confs while the user's session confs
#: are NEVER touched — a batch query planned concurrently with a serve
#: sees its own AQE/partition settings (the r11 swap-and-restore was
#: session-global and racy). Set false to serve on the engine session
#: with its normal confs (each serve then plans afresh there).
FAST_CONFS_CONF = "spark.openmldb.serving.fastConfs"
SERVING_SHUFFLE_PARTITIONS_CONF = "spark.openmldb.serving.shufflePartitions"

#: simple types the JVM text staging can round-trip exactly (base64 cell
#: -> decode -> cast, all Catalyst expressions); nested/interval types
#: fall back to the Arrow mapInArrow source
_JVM_STAGEABLE = {
    "boolean", "byte", "short", "integer", "long", "float", "double",
    "string", "binary", "date", "timestamp", "timestamp_ntz",
}


def _jvm_stageable(schema) -> bool:
    return all(
        f.dataType.typeName() in _JVM_STAGEABLE
        or f.dataType.typeName().startswith("decimal")
        for f in schema.fields
    )


def _jvm_source(spark, path: str, schema) -> DataFrame:
    """JVM-only staged request source: ``spark.read.text`` over a
    FIXED-SIZE padded file (the scan's FileIndex caches the length at
    compile time, so the file must never change size — the writer pads
    with one filler line), one base64-cell CSV-ish line per request row, decoded
    and cast entirely with Catalyst expressions. This keeps the serving
    hot path free of Python workers: a 1-row ``mapInArrow`` roundtrip
    costs ~200 ms/execution on this host regardless of data — the
    dominant term of the r10 serve latency."""
    raw = spark.read.text(path)
    parts = F.split(F.col("value"), ",", -1)
    cols = []
    for i, f in enumerate(schema.fields):
        cell = F.element_at(parts, i + 1)
        decoded = F.unbase64(cell)
        tn = f.dataType.typeName()
        if tn == "timestamp":
            # staged as epoch-MICROS (not a wall-clock string, whose cast
            # would re-interpret in the session timezone and silently
            # shift every value on non-UTC sessions)
            decoded = F.timestamp_micros(
                F.decode(decoded, "UTF-8").cast("long")
            )
        elif tn != "binary":
            decoded = F.decode(decoded, "UTF-8").cast(f.dataType)
        col = F.when(cell == "~", F.lit(None).cast(f.dataType)).otherwise(decoded)
        cols.append(col.alias(f.name))
    # every encoded line ends with a trailing ","; the filler line never
    # does
    return raw.where(F.col("value").endswith(",")).select(*cols)


def _encode_staged_lines(table, pad_bytes: int, schema=None) -> bytes:
    """Encode an Arrow table of request rows into the fixed-size staged
    text payload (base64 cells, "~" nulls, trailing comma), padded by ONE
    filler line of ``#`` — a newline pad would make every serve's scan
    read and filter one empty row per padding byte.
    ``timestamp``-typed fields encode as epoch-MICROS (decoded by
    ``timestamp_micros`` — timezone-free on the wire). Both staging
    producers (``toArrow`` and ``LocalDataToArrowConversion``) emit
    TZ-AWARE datetimes for timestamp columns, so the epoch math is
    exact; a naive value (defensive only) is interpreted in the
    driver-local zone via ``astimezone`` — the same reading
    ``LocalDataToArrowConversion`` itself applies."""
    import base64
    import datetime

    ts_fields = (
        {f.name for f in schema.fields if f.dataType.typeName() == "timestamp"}
        if schema is not None
        else set()
    )
    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)

    def fmt(name, v) -> str:
        if v is None:
            return "~"
        if isinstance(v, bool):
            raw = "true" if v else "false"
        elif isinstance(v, (bytes, bytearray)):
            return base64.b64encode(bytes(v)).decode("ascii")
        elif isinstance(v, float):
            if v != v:
                raw = "NaN"
            elif v == float("inf"):
                raw = "Infinity"
            elif v == float("-inf"):
                raw = "-Infinity"
            else:
                raw = repr(v)  # shortest exact round-trip
        elif isinstance(v, datetime.datetime):
            if name in ts_fields:
                d = v.astimezone(datetime.timezone.utc) - epoch
                raw = str(
                    (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
                )
            else:  # timestamp_ntz: wall-clock string, timezone-free cast
                if v.tzinfo is not None:
                    v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
                raw = v.isoformat(sep=" ")
        elif isinstance(v, datetime.date):
            raw = v.isoformat()
        else:
            raw = str(v)
        return base64.b64encode(raw.encode("utf-8")).decode("ascii")

    lines = [
        ",".join(fmt(k, v) for k, v in row.items()) + ","
        for row in table.to_pylist()
    ]
    data = ("\n".join(lines) + "\n").encode("utf-8") if lines else b""
    if len(data) > pad_bytes:
        raise ValueError(
            f"staged request batch encodes to {len(data)} bytes, over the "
            f"fixed staging size {pad_bytes} (the compiled plan's scan "
            f"caches the file length). Set spark conf {STAGING_BYTES_CONF} "
            "higher BEFORE the deployment compiles, or serve the batch "
            "through the uncompiled DataFrame path."
        )
    return data + b"#" * (pad_bytes - len(data))


def _replace_file(path: str, data: bytes) -> None:
    """Swap ``path``'s contents atomically (a scan never reads a torn
    file)."""
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def _exact_collect_plan(df: DataFrame, schema):
    """``(projected_df, ts_field_indices)`` for a timezone-exact one-job
    collect: top-level tz-aware ``timestamp`` columns are projected to
    epoch-micros (a plain ``collect`` would round-trip them through NAIVE
    driver-local datetimes, which cannot represent the repeated DST
    hour); every other type collects exactly as-is. Returns ``(None,
    None)`` when the schema defeats the projection — duplicate column
    names (un-addressable by name) or timestamps buried in nested types —
    and the caller should use the ``toArrow`` fallback instead."""
    names = [f.name for f in schema.fields]
    if len(set(names)) != len(names):
        return None, None
    ts_idx = []
    for i, f in enumerate(schema.fields):
        tn = f.dataType.typeName()
        if tn == "timestamp":
            ts_idx.append(i)
        elif tn != "timestamp_ntz" and "timestamp" in f.dataType.simpleString():
            return None, None  # nested timestamps (array/map/struct)
    if not ts_idx:
        return df, ts_idx

    def q(n: str):  # backtick-quote: dotted names must not parse as paths
        return F.col("`" + n.replace("`", "``") + "`")

    keep = set(ts_idx)
    return (
        df.select(
            *[
                F.unix_micros(q(n)).alias(n) if i in keep else q(n)
                for i, n in enumerate(names)
            ]
        ),
        ts_idx,
    )


def _rows_to_arrow(rows, ts_idx, schema):
    """Rebuild collected rows (timestamps as epoch-micros per
    ``_exact_collect_plan``) into Spark's Arrow encoding of ``schema`` —
    ``LocalDataToArrowConversion`` emits the same layout ``toArrow``
    would, so both directions of the driver-local fast path are
    bit-identical with the job-paying paths."""
    import datetime

    from pyspark.sql.conversion import LocalDataToArrowConversion

    if not rows:  # the conversion asserts a non-empty batch
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        return pa.Table.from_pylist([], schema=to_arrow_schema(schema))
    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    out = []
    for r in rows:
        vals = list(r)
        for i in ts_idx:
            if vals[i] is not None:
                vals[i] = epoch + datetime.timedelta(microseconds=vals[i])
        out.append(tuple(vals))
    return LocalDataToArrowConversion.convert(out, schema, False)


def _serving_session(spark):
    """The isolated serving session: a ``newSession()`` clone sharing the
    SparkContext, catalog and cache manager but owning its conf — AQE off
    and a tiny shuffle fan-out are set ONCE here instead of swapped on
    the shared session per serve (see ``FAST_CONFS_CONF``). ``newSession``
    does NOT inherit runtime-set confs (session timezone, ANSI flags, …
    would silently reset and change serve SEMANTICS), so the engine
    session's conf state is copied first, then the two serving overrides
    applied."""
    clone = spark.newSession()
    for k, v in spark.conf.getAll.items():
        if v is None:
            continue
        try:
            if clone.conf.get(k, None) != v:
                clone.conf.set(k, v)
        except Exception:  # non-modifiable/static conf: context-level anyway
            pass
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    clone.conf.set(
        "spark.sql.shuffle.partitions",
        # default 1: serve shuffles carry request-row-sized data (history
        # is key-pruned), so even the 2-task fan-out only adds scheduling
        # latency — measured ~25% p50 on a two-window deploy (r12 A/B)
        spark.conf.get(SERVING_SHUFFLE_PARTITIONS_CONF, "1"),
    )
    return clone


class _ServePlan(NamedTuple):
    """A compiled plan's executed physical plan on the serving clone.
    ``confs`` are the engine-session values it was planned under
    (``_SEMANTIC_CONFS``, then the serving fan-out); ``executed`` is
    None when a copy cannot refresh the plan (see
    :meth:`CompiledRequestPlan._plan_serve`); ``reuse`` says each copy
    needs Catalyst's exchange-reuse rule re-applied."""

    confs: tuple
    executed: object
    reuse: bool


def _plan_nodes(plan):
    """Every node of a JVM ``SparkPlan`` tree, parents first."""
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _reuse_rule(session):
    """Catalyst's exchange/subquery reuse rule (the last step of physical
    planning), to apply by hand."""
    pkg = session._jvm.org.apache.spark.sql.execution.reuse
    return getattr(getattr(pkg, "ReuseExchangeAndSubquery$"), "MODULE$")


@contextlib.contextmanager
def _active_session(session):
    """Make ``session`` the JVM thread's active SparkSession for the
    block. Plan nodes built outside Catalyst's own phases (``clone``,
    a rule applied by hand) take the thread's active session for their
    conf and SparkContext — and a py4j thread other than the one that
    created the engine session has none."""
    cls = session._jvm.org.apache.spark.sql.classic.SparkSession
    prev = cls.getActiveSession()
    cls.setActiveSession(session._jsparkSession)
    try:
        yield
    finally:
        if prev.isDefined():
            cls.setActiveSession(prev.get())
        else:
            cls.clearActiveSession()


def _staged_reader(path: str):
    """Task-side reader for the compiled plan's request source: yields the
    Arrow batches staged at ``path`` AT EXECUTION TIME — the plan is fixed,
    only the staged file's contents change between calls. Runs as ONE task
    (the source is ``range(0,1,1,1).mapInArrow``); batches are Spark's own
    Arrow encoding of the request rows (``DataFrame.toArrow``), so types
    round-trip exactly. On a cluster the staged path must live on shared
    storage (it is a tiny request batch, not data-sized)."""
    import pyarrow as pa

    def reader(batches):
        for _ in batches:  # drain the 1-row driver source
            pass
        with pa.ipc.open_file(path) as rd:
            for i in range(rd.num_record_batches):
                yield rd.get_batch(i)

    return reader


class CompiledRequestPlan:
    """A deployment's request plan, compiled ONCE and re-served by swapping
    staged request rows — the Spark analog of the reference's per-DEPLOY
    compiled-plan cache (``hybridse/src/vm/engine.cc:453-496``: CompileSql
    caches the physical plan; ``src/sdk/sql_cluster_router.h:116-190``
    CallProcedure binds a request row per call).

    Mechanics, and why each piece is needed:

    - the request source reads a staged file when the job RUNS, so new
      rows flow through the already-built plan without re-lowering (parse
      + Lowerer + per-intermediate-Dataset Catalyst analysis — ~50% of
      the uncached per-call latency, ``bench_request.py``). Two source
      shapes: simple-typed schemas stage as a FIXED-SIZE padded text file
      read by ``spark.read.text`` + Catalyst decode/cast projections —
      zero Python stages per serve (a 1-row ``mapInArrow`` roundtrip
      costs ~200 ms/execution here, the dominant r10 latency term) —
      while nested types fall back to ``mapInArrow`` over Arrow IPC.
    - the EXECUTED physical plan is built once, on the isolated serving
      session, and each serve runs a fresh ``clone()`` of it, wrapped
      back into a DataFrame over the copy's RDD. Re-running the same
      plan would REUSE its shuffle map outputs and broadcasts
      (ShuffleExchangeExec caches its ShuffledRowRDD, BroadcastExchangeExec
      its broadcast future), silently serving the PREVIOUS request's
      rows; the copy gives every exchange a new shuffle id and broadcast
      future, and skips the per-serve optimizer and planner runs. Plans
      a copy cannot refresh (no serving clone, ``FAST_CONFS_CONF`` off,
      subquery expressions) serve a fresh ``.where(lit(True))`` Dataset
      on the engine session, planned per call.
    - the plan's history is the request table's store snapshot taken at
      compile time UNION a plan-private append tail: a second fixed-size
      staged text file (JVM mode only), unioned in before TTL so every
      TTL filter sees its rows. An INSERT into the request table bumps
      its epoch; the next serve rewrites the tail with every row the
      engine's insert log holds since the compile (:meth:`catch_up`) and
      serves on the same plan — the analog of the reference's ``Put``
      into live segments.
    - ``key`` (from ``SqlDeployment._serving_key``) pins the engine state
      the plan serves. Any other change — DELETE/LOAD/replace of the
      request table, a write to another table the query reads, a TTL
      pin / mode / db change, a tail past the staging size, a trimmed
      insert log, or any INSERT at all when the plan has no tail (nested
      request schemas, or a store schema that no longer matches the
      deployment's) — makes ``run_request`` drop and recompile.

    Both serve arms are EAGER and hold the per-plan lock across
    stage+collect, so concurrent callers (the ThreadingHTTPServer RESTful
    handler, parallel ``run_request`` calls) serialize per deployment
    instead of overwriting each other's staged rows: :meth:`serve_rows`
    returns collected rows; :meth:`serve` returns the collected result
    re-wrapped as a driver-local DataFrame (job-free to collect).
    """

    def __init__(self, dep: "SqlDeployment", key: tuple):
        import threading

        self.dep = dep
        self.key = key
        self.spark = dep.engine.spark
        self._lock = threading.Lock()
        root = resolve_staging_dir(
            self.spark.conf.get("spark.master", "local"),
            getattr(dep.engine, "staging_dir", None)
            or self.spark.conf.get(STAGING_DIR_CONF, None),
        )
        if root is not None:
            os.makedirs(root, exist_ok=True)
        self._dir = tempfile.mkdtemp(prefix=f"omsk_req_{dep.name}_", dir=root)
        # JVM text staging wherever the input schema allows (every serve
        # then runs zero Python stages); Arrow mapInArrow for nested types
        self._jvm_mode = _jvm_stageable(dep.input_schema)
        if self._jvm_mode:
            self._pad = int(
                self.spark.conf.get(
                    STAGING_BYTES_CONF, str(DEFAULT_STAGING_BYTES)
                )
            )
            self._staged = os.path.join(self._dir, "requests.txt")
        else:
            self._staged = os.path.join(self._dir, "requests.arrow")
        # stage an empty batch so compile-time analysis sees the schema
        # (and, in JVM mode, the FIXED file size the scan will cache)
        empty = self.spark.createDataFrame([], dep.input_schema).toArrow()
        self._write_staged(empty)
        from openmldb_spark.engine import servingmat

        #: the key at compile time: the store snapshot the plan reads;
        #: the tail holds every request-table INSERT since
        self._base_key = key
        tail = self._tail_path = None
        if self._jvm_mode:
            src = _jvm_source(self.spark, self._staged, dep.input_schema)
        else:
            src = self.spark.range(0, 1, numPartitions=1).mapInArrow(
                _staged_reader(self._staged), dep.input_schema
            )
        store = dep.engine.tables[dep.request_table].schema
        if self._jvm_mode and [(f.name, f.dataType) for f in store] == [
            (f.name, f.dataType) for f in dep.input_schema
        ]:
            self._tail_path = os.path.join(self._dir, "tail.txt")
            _replace_file(
                self._tail_path,
                _encode_staged_lines(empty, self._pad, dep.input_schema),
            )
            tail = servingmat.mark_staged(
                _jvm_source(self.spark, self._tail_path, dep.input_schema)
            )
        # marker filter (constant-folded away) so servingmat.offer can
        # refuse subtrees reading the staged source in EITHER mode (and
        # any subtree reading the tail)
        src = servingmat.mark_staged(src)
        self._src, self._tail = src, tail
        # serving-static materialization: history-only intermediates the
        # lowering offers (LAST JOIN deduped right sides) persist for the
        # plan's lifetime and materialize NOW, so serves read in-memory
        # state instead of re-running their shuffle chains — the analog of
        # the reference tablet's resident segment indexes. Invalidation is
        # already correct: a write to any table the query reads, other
        # than a tail-served INSERT into the request table (whose rows no
        # materialized subtree reads), drops this plan before the next
        # serve.

        self._materialized: list = []
        with servingmat.collecting(self._materialized):
            self.plan = dep._run_request_on(
                dep._query_with_params(None), src, None, tail=tail
            )
        # keep each cache's builder too: after a spark.catalog.clearCache()
        # the next serve's plan copy rebuilds the cache outside the cache
        # manager, where only release() can still drop it
        self._caches = []
        for df in self._materialized:
            df.count()
            rel = df._jdf.queryExecution().withCachedData()
            if rel.nodeName() == "InMemoryRelation":
                self._caches.append(rel.cacheBuilder())
        # isolated serving session + the serve's executed plan, built once
        # here (see _serve_df). Availability-probed once; any failure
        # falls back to serving on the engine session.
        self._lp = self.plan._jdf.queryExecution().analyzed()
        self._physical: _ServePlan | None = None
        try:
            self._serve_spark = _serving_session(self.spark)
            confs = self._serve_confs()
            if confs is not None:
                self._physical = self._plan_serve(confs)
        except Exception:  # pragma: no cover - e.g. non-classic backends
            self._serve_spark = None

    #: REGISTRY CONTRACT: any runtime conf that changes serve RESULT
    #: VALUES (not merely plan shape) and can legitimately be SET after a
    #: deployment compiles MUST be listed here — the serve's physical
    #: plan records the engine session's values it was planned under,
    #: and a serve that reads different ones copies them onto the serving
    #: clone and re-plans once, so a post-deploy ``SET`` reaches compiled
    #: serves like uncompiled ones. Re-planning does not re-analyze: an
    #: expression the compile's analysis bound to a conf value (the
    #: session timezone of ``hour(ts)``) keeps it. Planning confs (AQE,
    #: shuffle fan-out) intentionally stay pinned to the serving profile;
    #: the serve-time shuffle fan-out itself is the one planning knob that
    #: re-plans the same way (SERVING_SHUFFLE_PARTITIONS_CONF below),
    #: since it is this module's own documented surface. Anything
    #: semantics-bearing left off this list silently diverges between the
    #: two paths (ADVICE r12 named caseSensitive / timeParserPolicy /
    #: mapKeyDedupPolicy — now listed).
    _SEMANTIC_CONFS = (
        "spark.sql.session.timeZone",
        "spark.sql.ansi.enabled",
        "spark.sql.caseSensitive",
        "spark.sql.legacy.timeParserPolicy",
        "spark.sql.mapKeyDedupPolicy",
    )

    def _serve_confs(self) -> tuple | None:
        """The engine session's ``_SEMANTIC_CONFS`` values and serving
        fan-out a serve's physical plan must match, or None when serves
        take the engine-session path: no serving clone, or
        ``FAST_CONFS_CONF`` off (read per serve) — that session plans with
        AQE, and a copy of an ``AdaptiveSparkPlanExec`` shares its stage
        cache with the original."""
        get = self.spark.conf.get
        if self._serve_spark is None or get(FAST_CONFS_CONF, "true") != "true":
            return None
        return tuple(get(k, None) for k in self._SEMANTIC_CONFS) + (
            get(SERVING_SHUFFLE_PARTITIONS_CONF, "1"),
        )

    def _plan_serve(self, confs: tuple) -> _ServePlan:
        """Copy ``confs`` onto the serving clone and build the compiled
        query's executed plan there, once per distinct ``confs``.

        A plan whose nodes hold subquery expressions gets no
        ``executed`` and serves on the engine session: a copied
        ``ScalarSubquery``/``InSubqueryExec`` keeps its ``SubqueryExec``'s
        cached result. The plan is built with exchange reuse OFF: a
        ``ReusedExchangeExec`` is a leaf pointing at another node, which
        ``clone()`` does not copy, so the copy of a reuse-planned tree
        would run the cached plan's own exchange — built by the first
        serve and kept for every later one. Each copy instead gets
        Catalyst's reuse rule applied afresh (``reuse``), when the rule
        finds anything to share."""
        ss = self._serve_spark
        for k, v in zip(self._SEMANTIC_CONFS, confs):
            if v is not None and ss.conf.get(k, None) != v:
                ss.conf.set(k, v)
        ss.conf.set("spark.sql.shuffle.partitions", confs[-1])
        reuse_conf = ss.conf.get("spark.sql.exchange.reuse")
        ss.conf.set("spark.sql.exchange.reuse", "false")
        try:
            executed = (
                self.spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                    ss._jsparkSession, self._lp
                )
                .queryExecution()
                .executedPlan()
            )
        finally:
            ss.conf.set("spark.sql.exchange.reuse", reuse_conf)
        if any(not n.subqueries().isEmpty() for n in _plan_nodes(executed)):
            return _ServePlan(confs, None, False)
        shares = False
        if reuse_conf == "true":
            with _active_session(ss):
                shared = _reuse_rule(ss).apply(executed.clone())
            shares = any(
                n.nodeName() == "ReusedExchange" for n in _plan_nodes(shared)
            )
        return _ServePlan(confs, executed, shares)

    def _serve_df(self) -> DataFrame:
        """One serve's result as a DataFrame no earlier serve shares any
        exchange with (see the class docstring's stale-shuffle note).

        On the serving clone: a ``clone()`` of the cached executed plan
        (re-planned first if the engine session's confs moved, see
        ``_SEMANTIC_CONFS``) is executed — the broadcasts run now, the
        rest when the caller collects — and its RDD wrapped as a
        DataFrame. Otherwise a fresh ``.where(lit(True))`` Dataset on the
        engine session, planned per call."""
        confs = self._serve_confs()
        if confs is not None:
            if self._physical is None or self._physical.confs != confs:
                self._physical = self._plan_serve(confs)
            if self._physical.executed is not None:
                ss = self._serve_spark
                with _active_session(ss):
                    plan = self._physical.executed.clone()
                    if self._physical.reuse:
                        plan = _reuse_rule(ss).apply(plan)
                    rdd = plan.execute()
                return DataFrame(
                    ss._jsparkSession.internalCreateDataFrame(
                        rdd, self.plan._jdf.schema(), False
                    ),
                    ss,
                )
        return self.plan.where(F.lit(True))

    def _write_staged(self, table) -> None:
        if self._jvm_mode:
            _replace_file(
                self._staged,
                _encode_staged_lines(table, self._pad, self.dep.input_schema),
            )
            return
        import pyarrow as pa

        tmp = self._staged + ".tmp"
        with pa.ipc.new_file(tmp, table.schema) as w:
            w.write_table(table)
        os.replace(tmp, self._staged)

    def catch_up(self, key: tuple) -> bool:
        """Make this plan serve engine state ``key`` without recompiling:
        True when ``key`` is the plan's own, or when the only writes since
        the compile are INSERTs into the request table that still fit the
        tail (the tail file is rewritten with all of them and ``key``
        adopted). False means the caller must recompile. Runs under the
        plan lock, so no serve reads a half-advanced plan."""
        with self._lock:
            if key == self.key:
                return True
            if self._tail_path is None:
                return False
            rows = self.dep._inserts_since(self._base_key, key)
            if rows is None:
                return False
            schema = self.dep.input_schema
            try:
                data = _encode_staged_lines(
                    _rows_to_arrow(rows, [], schema), self._pad, schema
                )
            except ValueError:  # past the staging size: recompile
                return False
            _replace_file(self._tail_path, data)
            self.key = key
            return True

    def _local_request_table(self, requests: DataFrame):
        """The request batch as an Arrow table WITHOUT a Spark job, when
        the caller's plan collapses to a ``LocalRelation`` (arrow- or
        pandas-created frames; the optimizer folds deterministic
        projections into the relation, and ``LocalTableScanExec``'s
        collect is job-free) — else ``None`` and the caller pays the one
        evaluation job via ``toArrow``. Tuple-list ``createDataFrame``
        output is RDD-backed in classic PySpark, so it does NOT take this
        path (use :meth:`serve_rows` for driver-held rows)."""
        schema = self.dep.input_schema
        proj, ts_idx = _exact_collect_plan(requests, schema)
        if proj is None:
            return None
        try:
            qe = proj._jdf.queryExecution()
            if qe.optimizedPlan().getClass().getSimpleName() != "LocalRelation":
                return None
            rows = proj.collect()  # LocalTableScanExec: no job
        except Exception:  # non-classic backend / unexpected plan surface
            return None
        return _rows_to_arrow(rows, ts_idx, schema)

    def serve(self, requests: DataFrame) -> DataFrame:
        """Stage a request DataFrame, run the serve, and return the result
        as a driver-local DataFrame. Staging AND the serve's collect run
        under the per-plan lock (the same discipline as
        :meth:`serve_rows`), so two concurrent ``run_request(df)`` calls
        on one deployment can no longer interleave stage/collect and
        serve each other's rows (r12 verdict #3) — the old contract
        ("collect the returned Dataset before the next serve") is now
        enforced by construction instead of documented.

        Cost shape: driver-local request plans (``LocalRelation`` — see
        :meth:`_local_request_table`) stage with ZERO extra Spark jobs;
        RDD-backed plans pay one ``toArrow`` evaluation job. The serve
        itself collects through the timestamp-exact projection (ONE job —
        ``toArrow`` on the result would run two) and is handed back as a
        ``LocalRelation``-backed DataFrame (job-free to collect again),
        so a driver-local request round-trips in a single Spark job,
        matching the rows arm's job count (broadcast jobs aside). Both
        arms label their jobs ``serve <deployment>``."""
        out_schema = self.plan.schema
        with self._labelled():
            table = self._local_request_table(requests)
            if table is None:
                table = requests.toArrow()
            with self._lock:
                self._write_staged(table)
                sdf = self._serve_df()
                proj, ts_idx = _exact_collect_plan(sdf, out_schema)
                if proj is None:  # nested/duplicate-name timestamps: 2 jobs
                    out = sdf.toArrow()
                else:
                    out = _rows_to_arrow(proj.collect(), ts_idx, out_schema)
        return self.spark.createDataFrame(out, schema=out_schema)

    def serve_rows(self, rows: list) -> list:
        """Driver-side staging + eager collect: no Spark job other than
        the serve itself. ``LocalDataToArrowConversion`` applies the same
        type checks/coercions as ``createDataFrame`` and emits the same
        Arrow layout ``toArrow`` would, so both staging paths are
        bit-identical on the wire."""
        from pyspark.sql.conversion import LocalDataToArrowConversion

        if not rows:
            return []
        with self._labelled(), self._lock:
            self._write_staged(
                LocalDataToArrowConversion.convert(
                    rows, self.dep.input_schema, False
                )
            )
            return self._serve_df().collect()

    @contextlib.contextmanager
    def _labelled(self):
        """Label the Spark jobs this thread starts ``serve <deployment>``
        and restore the caller's label after. Only the description is
        set: the job group stays the caller's (``jobs.py`` STOP JOB
        cancels by group)."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"serve {self.dep.name}")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.job.description", prev)

    def release(self) -> None:
        """Drop the staged directory and resident join-side caches —
        under the per-plan lock, so an epoch-bump recompile triggered by
        one thread cannot yank the staged file / materialized state out
        from under another thread's in-flight locked serve (the release
        simply queues behind it)."""
        with self._lock:
            for df in self._materialized:
                df.unpersist()
            for builder in self._caches:
                builder.clearCache(False)
            self._materialized.clear()
            shutil.rmtree(self._dir, ignore_errors=True)
