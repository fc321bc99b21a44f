"""InfluxDB 1.x ``/query`` JSON envelope over the InfluxQL front-end.

The classic v1 HTTP API (public reference: the InfluxDB 1.x API docs;
the reference repo serves only the v2/iox surfaces — this module is the
compatibility layer a 1.x client such as Grafana's InfluxQL datasource
expects) returns::

    {"results": [{"statement_id": 0,
                  "series": [{"name": "cpu", "tags": {"host": "a"},
                              "columns": ["time", "mean"],
                              "values": [[...], ...]}]},
                 {"statement_id": 1, "error": "..."}]}

Framing rules implemented here (values come from the relational planner;
this layer only splits rows into series and formats time):

- SELECT with GROUP BY tags: one series per distinct tag set, the tag
  columns become the ``tags`` map and leave ``columns``.
- multi-measurement FROM: the leading ``measurement`` column becomes the
  per-series ``name``.
- SHOW variants use the stock v1 column spellings (``tagKey``,
  ``fieldKey``/``fieldType``, ``key``/``value``, ``name``) and split
  per-measurement where stock does.
- ``epoch`` ∈ {ns, u, µ, ms, s, m, h} renders time as an integer in that
  unit; default is RFC3339 with trailing-zero-trimmed ns fraction
  (RFC3339Nano), exactly like stock.
"""

from __future__ import annotations

import datetime as _dt
import time as _time

from influxdb_iox_spark.influxql.ast_nodes import (
    AlterRetentionPolicy,
    CreateContinuousQuery,
    CreateDatabase,
    CreateRetentionPolicy,
    CreateSubscription,
    CreateUser,
    DeleteStatement,
    DropContinuousQuery,
    DropDatabase,
    DropMeasurement,
    DropRetentionPolicy,
    DropSeries,
    DropShard,
    DropSubscription,
    DropUser,
    ExplainStatement,
    GrantStatement,
    KillQuery,
    Measurement,
    RevokeStatement,
    SelectStatement,
    SetPassword,
    ShowStatement,
)
from influxdb_iox_spark.influxql.parser import parse
from influxdb_iox_spark.influxql.planner import (
    InfluxQLPlanError,
    plan_select_with_tags,
    plan_show,
)

_EPOCH_DIV = {
    "ns": 1,
    "u": 1_000,
    "µ": 1_000,
    "ms": 1_000_000,
    "s": 1_000_000_000,
    "m": 60 * 1_000_000_000,
    "h": 3_600 * 1_000_000_000,
}


def catalog_from_database(database) -> dict[str, Measurement]:
    """Bind every registered table of a Database to a Measurement —
    each ``df`` is the dedup-correct ``TableStore.scan`` DataFrame, so
    InfluxQL over HTTP sees exactly what SQL/Flight queries see."""
    cat: dict[str, Measurement] = {}
    for t in database.table_names():
        sch = database.table_schema(t)
        cat[t] = Measurement(
            df=database.table(t),
            tags=tuple(sch.tag_columns),
            fields=tuple(sch.field_columns),
            time_col=sch.time_column,
            # fresh cells DF per catalog build: rollup maintenance
            # overwrites the dir, so a longer-lived DF would hold a
            # stale file listing (catalogs are per-request on the HTTP
            # path, so this stays live)
            series_rollup=(
                (database.rollup_cells(t), database.series_rollups[t][1])
                if t in database.series_rollups
                else None
            ),
        )
    return cat


def split_statements(text: str) -> list[str]:
    """Split on ';' outside quoted strings/identifiers; drop empties."""
    out: list[str] = []
    cur: list[str] = []
    quote: str | None = None
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if quote:
            cur.append(c)
            if c == "\\" and i + 1 < n:
                cur.append(text[i + 1])
                i += 2
                continue
            if c == quote:
                quote = None
        elif c in ("'", '"'):
            quote = c
            cur.append(c)
        elif c == ";":
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    out.append("".join(cur))
    return [s.strip() for s in out if s.strip()]


def _rfc3339nano(ns: int, tz: str | None = None) -> str:
    """ns since epoch → RFC3339 with trailing-zero-trimmed fraction
    (Go's RFC3339Nano, the stock v1 time rendering).  With ``tz``
    (the statement's tz() clause), wall time and offset render in that
    zone, as stock does."""
    from datetime import datetime, timezone

    secs, frac = divmod(int(ns), 1_000_000_000)
    if tz is None:
        base = datetime.fromtimestamp(secs, tz=timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%S"
        )
        suffix = "Z"
    else:
        import zoneinfo

        dt = datetime.fromtimestamp(secs, tz=zoneinfo.ZoneInfo(tz))
        base = dt.strftime("%Y-%m-%dT%H:%M:%S")
        off = dt.utcoffset()
        total = int(off.total_seconds())
        if total == 0:
            suffix = "Z"
        else:
            sign = "+" if total >= 0 else "-"
            total = abs(total)
            suffix = f"{sign}{total // 3600:02d}:{(total % 3600) // 60:02d}"
    if frac == 0:
        return base + suffix
    f = f"{frac:09d}".rstrip("0")
    return f"{base}.{f}{suffix}"


def _time_value(ns, epoch: str | None, tz: str | None = None):
    if ns is None:
        return None
    if epoch is None:
        return _rfc3339nano(ns, tz)
    return int(ns) // _EPOCH_DIV[epoch]


def _json_cell(v):
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


_SHOW_RENAMES = {
    "tag keys": {"tag_key": "tagKey"},
    "field keys": {"field_key": "fieldKey", "field_type": "fieldType"},
}


def _series_name_for_select(stmt: SelectStatement) -> str | None:
    s = stmt
    while s.measurement is None and s.from_sub is not None:
        s = s.from_sub
    return s.measurement


def _frame_select(stmt, cols, rows, epoch, group_tags) -> list[dict]:
    """Split collected SELECT rows into v1 series: group on the leading
    ``measurement`` column (multi-FROM) and the statement's RESOLVED
    group-by tag columns.  Rows arrive sorted by (measurement, tags,
    time), so a linear boundary scan frames them.  Only columns the
    statement actually grouped by frame as series tags — a raw select
    projecting a tag-named column returns ONE series with the column
    inline, matching stock v1 (name-matching against the whole catalog
    would split it into per-value one-row series)."""
    tag_cols = [c for c in cols if c in set(group_tags) and c != "time"]
    has_meas_col = bool(cols) and cols[0] == "measurement" and (
        stmt.from_names or stmt.from_regex is not None
    )
    value_cols = [
        c for c in cols if c not in tag_cols and c != "measurement"
    ]
    default_name = _series_name_for_select(stmt)

    series: list[dict] = []
    current_key = object()
    for row in rows:
        d = dict(zip(cols, row))
        key = (
            d.get("measurement") if has_meas_col else None,
            tuple(d.get(t) for t in tag_cols),
        )
        if key != current_key:
            current_key = key
            entry: dict = {}
            name = d.get("measurement") if has_meas_col else default_name
            if name is not None:
                entry["name"] = name
            if tag_cols:
                entry["tags"] = {
                    t: d.get(t) for t in tag_cols
                }
            entry["columns"] = value_cols
            entry["values"] = []
            series.append(entry)
        vals = []
        for c in value_cols:
            v = d[c]
            vals.append(
                _time_value(v, epoch, getattr(stmt, "tz", None))
                if c == "time"
                else _json_cell(v)
            )
        series[-1]["values"].append(vals)
    return series


def _frame_show(stmt: ShowStatement, cols, rows) -> list[dict]:
    renames = _SHOW_RENAMES.get(stmt.what, {})
    cols = [renames.get(c, c) for c in cols]
    if "measurement" in cols:
        # one series per measurement, named by it (stock SHOW TAG KEYS /
        # FIELD KEYS framing)
        mi = cols.index("measurement")
        value_cols = [c for c in cols if c != "measurement"]
        series: list[dict] = []
        cur = object()
        for row in rows:
            name = row[mi]
            vals = [
                _json_cell(v) for i, v in enumerate(row) if i != mi
            ]
            if name != cur:
                cur = name
                series.append(
                    {"name": name, "columns": value_cols, "values": []}
                )
            series[-1]["values"].append(vals)
        return series
    name = {
        "measurements": "measurements",
        "databases": "databases",
    }.get(stmt.what)
    entry = {
        "columns": cols,
        "values": [[_json_cell(v) for v in r] for r in rows],
    }
    if name:
        entry = {"name": name, **entry}
    return [entry] if rows else []


def _shard_id(table: str, chunk_id: int) -> int:
    """Globally unique exposed shard id for a (table, chunk) pair.

    Chunk ids are allocated PER TABLE (store.py _alloc_chunk_id starts
    every table at the same block), so the raw chunk id collides across
    tables and cannot serve as the stock-1.x globally-unique shard id.
    The exposed id is a stable 48-bit blake2b of the pair: deterministic
    across processes, unchanged by table create/drop (no ordinal
    shifting), and content-addressed — a stale id can only ever refer to
    the chunk it was minted for, never silently re-resolve to a
    different one."""
    import hashlib

    key = f"{table}\x00{chunk_id}".encode()
    return int.from_bytes(hashlib.blake2b(key, digest_size=6).digest(), "big")


def _show_shards_series(
    stmt: ShowStatement, database, now_ns: int
) -> list[dict]:
    """SHOW SHARDS / SHOW SHARD GROUPS — the stock 1.x placement
    statements, mapped onto this engine's honest analogues: a CHUNK is
    a shard (independently queryable storage unit) and a PARTITION KEY
    is a shard group (the time-bucketed container stock groups shards
    under).  Times come from the manifest's ``time`` column stats —
    metadata only, no scans; expiry = end + the default retention
    policy's duration (stock semantics), 0-duration policies never
    expire (empty expiry, like stock's infinite RPs)."""
    if database is None:
        raise InfluxQLPlanError(
            f"SHOW {stmt.what.upper()} is not available on this endpoint"
        )
    from influxdb_iox_spark.retention import RetentionRegistry

    reg = RetentionRegistry(database.store.base_dir)
    rp_name, rp_dur = "autogen", 0
    for name, dur, default in reg.policies():
        if default:
            rp_name, rp_dur = name, dur
    groups: dict[str, list] = {}  # partition_key -> [min_ns, max_ns, ids]
    for t in sorted(database.store.tables()):
        for c in database.store.manifest(t):
            tmin, tmax = (c.stats.get("time") or [None, None])[:2]
            g = groups.setdefault(c.partition_key, [None, None, []])
            if tmin is not None:
                g[0] = tmin if g[0] is None else min(g[0], tmin)
            if tmax is not None:
                g[1] = tmax if g[1] is None else max(g[1], tmax)
            g[2].append((t, c.chunk_id))

    def rfc(ns):
        if ns is None:
            return ""
        import datetime

        return (
            datetime.datetime.fromtimestamp(
                ns / 1e9, tz=datetime.timezone.utc
            ).strftime("%Y-%m-%dT%H:%M:%SZ")
        )

    gid = {k: i + 1 for i, k in enumerate(sorted(groups))}
    if stmt.what == "shard groups":
        values = [
            [
                gid[k],
                database.name,
                rp_name,
                rfc(g[0]),
                rfc(g[1]),
                rfc(g[1] + rp_dur if g[1] is not None and rp_dur else None),
            ]
            for k, g in sorted(groups.items())
        ]
        return [
            {
                "name": "shard groups",
                "columns": [
                    "id", "database", "retention_policy",
                    "start_time", "end_time", "expiry_time",
                ],
                "values": values,
            }
        ]
    values = [
        [
            _shard_id(t, cid),
            database.name,
            rp_name,
            gid[k],
            rfc(g[0]),
            rfc(g[1]),
            rfc(g[1] + rp_dur if g[1] is not None and rp_dur else None),
            "",
        ]
        for k, g in sorted(groups.items())
        for t, cid in sorted(g[2])
    ]
    return [
        {
            "name": database.name,
            "columns": [
                "id", "database", "retention_policy", "shard_group",
                "start_time", "end_time", "expiry_time", "owners",
            ],
            "values": values,
        }
    ]


def _show_stats_series(
    stmt: ShowStatement, database, now_ns: int,
    tracker=None, subscriptions=None,
) -> list[dict]:
    """SHOW STATS / SHOW DIAGNOSTICS — the stock 1.x ops statements,
    answered from the engine's own metadata (manifest chunk stats; no
    scans).  Series named after stock's modules where an honest analogue
    exists; ``FOR '<component>'`` filters by series name."""
    if database is None:
        raise InfluxQLPlanError(
            f"SHOW {stmt.what.upper()} is not available on this endpoint"
        )
    series: list[dict]
    if stmt.what == "stats":
        tables = sorted(database.table_names())
        series = [
            {
                "name": "database",
                "tags": {"database": database.name},
                "columns": ["numMeasurements"],
                "values": [[len(tables)]],
            }
        ]
        for t in tables:
            chunks = list(database.store.manifest(t))
            series.append(
                {
                    "name": "shard",
                    "tags": {"database": database.name, "measurement": t},
                    "columns": ["numChunks", "numRows", "diskBytes"],
                    "values": [[
                        len(chunks),
                        sum(c.row_count or 0 for c in chunks),
                        sum(c.estimated_bytes or 0 for c in chunks),
                    ]],
                }
            )
        # stock's subscriber / queryExecutor stats modules, answered from
        # the live registries when the endpoint carries them
        if subscriptions is not None:
            m = subscriptions.metrics
            series.append(
                {
                    "name": "subscriber",
                    "columns": [
                        "pointsForwarded", "writeFailures", "pointsDropped",
                    ],
                    "values": [[
                        m["subscriptions_forwarded_total"],
                        m["subscriptions_errors_total"],
                        m["subscriptions_dropped_total"],
                    ]],
                }
            )
        if tracker is not None:
            series.append(
                {
                    "name": "queryExecutor",
                    "columns": ["queriesActive"],
                    "values": [[len(tracker.list())]],
                }
            )
    else:  # diagnostics
        import sys as _sys

        import pyspark as _pyspark

        started = _dt.datetime.fromtimestamp(
            now_ns / 1e9, tz=_dt.timezone.utc
        ).strftime("%Y-%m-%dT%H:%M:%SZ")
        series = [
            {
                "name": "build",
                "columns": ["Version"],
                "values": [["1.8-iox-spark"]],
            },
            {
                "name": "runtime",
                "columns": ["python", "pyspark"],
                "values": [[
                    ".".join(map(str, _sys.version_info[:3])),
                    _pyspark.__version__,
                ]],
            },
            {
                "name": "system",
                "columns": ["currentTime"],
                "values": [[started]],
            },
        ]
    if stmt.for_component is not None:
        series = [s for s in series if s["name"] == stmt.for_component]
    return series


_USER_STATEMENTS = (
    CreateUser, DropUser, SetPassword, GrantStatement, RevokeStatement,
)


def _plan_with_metrics(node, depth: int = 0):
    """Lines of an EXECUTED physical plan, one per operator, each followed
    by its SQL metrics (``name: value``, the values the run produced).  An
    adaptive plan prints its final plan; a query stage prints the plan it
    ran."""
    metrics = []
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        name = kv._2().name()
        label = name.get() if name.isDefined() else kv._1()
        metrics.append(f"{label}: {kv._2().value()}")
    line = "   " * depth + node.simpleString(25)
    yield f"{line} [{', '.join(sorted(metrics))}]" if metrics else line
    kind = node.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        children = [node.executedPlan()]
    elif kind.endswith("QueryStageExec"):
        children = [node.plan()]
    else:
        seq = node.children()
        children = [seq.apply(i) for i in range(seq.size())]
    for c in children:
        yield from _plan_with_metrics(c, depth + 1)


def _check_privilege(stmt, registry, identity, selected_db) -> None:
    """Stock per-statement authorization.  No-op unless a NON-EMPTY
    registry is configured (anonymous mode, and the CREATE USER
    bootstrap).  Admin: user management, SHOW USERS/GRANTS, database /
    retention-policy / measurement / continuous-query DDL.  WRITE on the
    selected database: DELETE and SELECT…INTO.  READ: everything else.
    Exception: SET PASSWORD FOR <self> is allowed (stock lets users
    rotate their own credential)."""
    if not registry:
        return
    from influxdb_iox_spark.auth import AuthError

    def deny():
        raise AuthError(
            f"user {identity or '<anonymous>'} is not authorized to "
            "execute this statement"
        )

    admin_shows = ("users", "grants", "queries", "subscriptions")
    needs_admin = isinstance(
        stmt,
        (
            CreateUser, DropUser, GrantStatement, RevokeStatement,
            CreateDatabase, DropDatabase, CreateRetentionPolicy,
            AlterRetentionPolicy, DropRetentionPolicy,
            DropMeasurement, DropShard, CreateContinuousQuery,
            DropContinuousQuery, KillQuery, CreateSubscription,
            DropSubscription,
        ),
    ) or (isinstance(stmt, ShowStatement) and stmt.what in admin_shows)
    if isinstance(stmt, SetPassword):
        if not (registry.is_admin(identity) or stmt.name == identity):
            deny()
        return
    if needs_admin:
        if not registry.is_admin(identity):
            deny()
        return
    if isinstance(stmt, (DeleteStatement, DropSeries)) or (
        isinstance(stmt, SelectStatement) and stmt.into is not None
    ):
        if not registry.can(identity, selected_db, "write"):
            deny()
        return
    if not registry.can(identity, selected_db, "read"):
        deny()


def _run_user_statement(stmt, registry, read_only: bool, entry: dict) -> bool:
    """Execute a user-management statement against the registry; returns
    False when ``stmt`` isn't one.  Available only when the server was
    constructed with a UserRegistry (plain password-dict servers keep the
    pre-registry all-authenticated-users-equal behavior and reject
    management statements)."""
    is_user_show = isinstance(stmt, ShowStatement) and stmt.what in (
        "users", "grants",
    )
    if not (isinstance(stmt, _USER_STATEMENTS) or is_user_show):
        return False
    if registry is None or not hasattr(registry, "create_user"):
        raise InfluxQLPlanError(
            "user management requires this server to be configured with "
            "a user registry"
        )
    if read_only and not is_user_show:
        raise InfluxQLPlanError(
            f"{type(stmt).__name__} requires a POST request"
        )
    if isinstance(stmt, CreateUser):
        registry.create_user(stmt.name, stmt.password, stmt.admin)
    elif isinstance(stmt, DropUser):
        registry.drop_user(stmt.name)
    elif isinstance(stmt, SetPassword):
        registry.set_password(stmt.name, stmt.password)
    elif isinstance(stmt, GrantStatement):
        registry.grant(stmt.privilege, stmt.db, stmt.user)
    elif isinstance(stmt, RevokeStatement):
        registry.revoke(stmt.privilege, stmt.db, stmt.user)
    elif stmt.what == "users":
        entry["series"] = [
            {
                "columns": ["user", "admin"],
                "values": [[n, a] for n, a in registry.list_users()],
            }
        ]
    else:  # grants
        priv_names = {
            "read": "READ", "write": "WRITE", "all": "ALL PRIVILEGES",
        }
        entry["series"] = [
            {
                "columns": ["database", "privilege"],
                "values": [
                    [db, priv_names[p]]
                    for db, p in registry.grants_for(stmt.for_user)
                ],
            }
        ]
    return True


def run_statements(
    text: str,
    catalog: dict[str, Measurement],
    databases: list[str] | None = None,
    epoch: str | None = None,
    max_rows: int = 10_000,
    now_ns: int | None = None,
    database=None,
    read_only: bool = False,
    resolve_database=None,
    registry=None,
    identity: str | None = None,
    selected_db: str | None = None,
    tracker=None,
    subscriptions=None,
) -> dict:
    """Execute a (possibly multi-statement) InfluxQL request and build
    the v1 response envelope.  Statement errors are reported per
    statement, never as transport errors (stock behavior).
    ``database``: the engine Database, required only for SELECT ... INTO
    writebacks (the stock continuous-query form).  ``read_only``: reject
    INTO with the stock POST-required message (set on the GET route).
    ``resolve_database``: name -> engine Database (or None); DDL targets
    are resolved by STATEMENT name through it, never by the connection's
    ``db=`` param — ``DROP DATABASE b`` sent with ``db=a`` must drop b,
    not a.  Without it ``DROP DATABASE`` is refused.

    ``registry``/``identity``/``selected_db``: the auth.UserRegistry,
    the authenticated username, and the request's db= name.  A NON-EMPTY
    registry turns on stock per-statement privilege checks (admin for
    user management and DDL, WRITE on the selected db for DELETE / INTO,
    READ otherwise); empty/None = anonymous mode, no checks — which is
    also what lets CREATE USER … WITH ALL PRIVILEGES bootstrap the first
    admin."""
    if epoch is not None and epoch not in _EPOCH_DIV:
        raise ValueError(f"invalid epoch {epoch!r}")
    now_ns = now_ns if now_ns is not None else _time.time_ns()
    results: list[dict] = []
    for i, stext in enumerate(split_statements(text)):
        entry: dict = {"statement_id": i}
        try:
            stmt = parse(stext)
            _check_privilege(stmt, registry, identity, selected_db)
            handled = _run_user_statement(stmt, registry, read_only, entry)
            if handled:
                results.append(entry)
                continue
            if isinstance(
                stmt, (CreateSubscription, DropSubscription)
            ) or (
                isinstance(stmt, ShowStatement)
                and stmt.what == "subscriptions"
            ):
                if subscriptions is None:
                    raise InfluxQLPlanError(
                        "subscriptions are not available on this endpoint"
                    )
                if isinstance(stmt, CreateSubscription):
                    if read_only:
                        raise InfluxQLPlanError(
                            "CREATE SUBSCRIPTION requires a POST request"
                        )
                    try:
                        subscriptions.create(
                            stmt.name, stmt.db, stmt.rp, stmt.mode,
                            list(stmt.destinations),
                        )
                    except ValueError as e:
                        raise InfluxQLPlanError(str(e)) from None
                elif isinstance(stmt, DropSubscription):
                    if read_only:
                        raise InfluxQLPlanError(
                            "DROP SUBSCRIPTION requires a POST request"
                        )
                    try:
                        subscriptions.drop(stmt.name, stmt.db, stmt.rp)
                    except ValueError as e:
                        raise InfluxQLPlanError(str(e)) from None
                else:
                    series = [
                        {
                            "name": db_name,
                            "columns": [
                                "retention_policy", "name", "mode",
                                "destinations",
                            ],
                            "values": rows,
                        }
                        for db_name, rows in subscriptions.list_rows().items()
                    ]
                    if series:
                        entry["series"] = series
                results.append(entry)
                continue
            if isinstance(stmt, KillQuery) or (
                isinstance(stmt, ShowStatement) and stmt.what == "queries"
            ):
                if tracker is None:
                    raise InfluxQLPlanError(
                        "query tracking is not available on this endpoint"
                    )
                if isinstance(stmt, KillQuery):
                    if read_only:
                        raise InfluxQLPlanError(
                            "KILL QUERY requires a POST request"
                        )
                    if not tracker.kill(stmt.qid):
                        raise InfluxQLPlanError(
                            f"no such query id: {stmt.qid}"
                        )
                else:
                    rows = tracker.list()
                    if rows:
                        entry["series"] = [
                            {
                                "columns": [
                                    "qid", "query", "database",
                                    "duration", "status",
                                ],
                                "values": rows,
                            }
                        ]
                results.append(entry)
                continue
            if isinstance(
                stmt,
                (
                    CreateDatabase, DropDatabase, CreateRetentionPolicy,
                    AlterRetentionPolicy, DropRetentionPolicy,
                ),
            ):
                # client-library onboarding DDL (influxdb-python's
                # create_database/create_retention_policy, Telegraf
                # setup).  Single-tenant server: creating the database
                # that already exists is an idempotent success; RP
                # statements land in the ENFORCED registry
                # (retention.RetentionRegistry) since round 12.
                if read_only:
                    raise InfluxQLPlanError(
                        f"{type(stmt).__name__} requires a POST request"
                    )
                target = getattr(stmt, "db", None) or stmt.name
                if databases and target not in databases:
                    raise InfluxQLPlanError(
                        f"this server hosts {databases[0]!r}; cannot "
                        f"manage database {target!r}"
                    )
                if database is not None and isinstance(
                    stmt,
                    (
                        CreateRetentionPolicy, AlterRetentionPolicy,
                        DropRetentionPolicy,
                    ),
                ):
                    from influxdb_iox_spark.retention import (
                        RetentionRegistry,
                    )

                    reg = RetentionRegistry(database.store.base_dir)
                    try:
                        if isinstance(stmt, CreateRetentionPolicy):
                            reg.set_policy(
                                stmt.name, stmt.duration_ns, stmt.default
                            )
                        elif isinstance(stmt, AlterRetentionPolicy):
                            reg.alter_policy(
                                stmt.name, stmt.duration_ns, stmt.default
                            )
                        else:
                            reg.drop_policy(stmt.name)
                    except KeyError as e:
                        raise InfluxQLPlanError(
                            str(e).strip("'\"")
                        ) from None
                if isinstance(stmt, DropDatabase):
                    # resolve the VICTIM from the statement's own name:
                    # the connection's database (db= param) may be a
                    # different hosted db, and dropping it instead would
                    # be wrong-target data loss.
                    victim = (
                        resolve_database(stmt.name)
                        if resolve_database is not None
                        else None
                    )
                    if victim is None:
                        raise InfluxQLPlanError(
                            "DROP DATABASE is not available on this endpoint"
                        )
                    for t in list(victim.table_names()):
                        victim.drop_table(t)
                results.append(entry)
                continue
            if isinstance(stmt, DropShard):
                if read_only:
                    raise InfluxQLPlanError(
                        "DROP SHARD requires a POST request"
                    )
                if database is None:
                    raise InfluxQLPlanError(
                        "DROP SHARD is not available on this endpoint"
                    )
                # chunk = shard (the SHOW SHARDS mapping).  The exposed
                # id is the globally-unique _shard_id hash, so it names
                # exactly one (table, chunk) — chunk ids alone collide
                # across tables and a blanket per-table drop would
                # silently delete same-id chunks from unrelated tables.
                # Stock silently succeeds on an unknown id.
                hash_hits: list[tuple[str, int]] = []
                raw_tables: list[str] = []
                for t in database.store.tables():
                    for c in database.store.manifest(t):
                        if _shard_id(t, c.chunk_id) == stmt.shard_id:
                            hash_hits.append((t, c.chunk_id))
                        if c.chunk_id == stmt.shard_id:
                            if t not in raw_tables:
                                raw_tables.append(t)
                if hash_hits:
                    for t, cid in hash_hits:
                        database.store.drop_chunks(t, [cid])
                elif len(raw_tables) > 1:
                    # back-compat raw-chunk-id path: refuse rather than
                    # guess when the bare id exists in several tables
                    raise InfluxQLPlanError(
                        f"shard id {stmt.shard_id} is ambiguous (chunks "
                        f"in {', '.join(sorted(raw_tables))}); use the "
                        "id reported by SHOW SHARDS"
                    )
                elif raw_tables:
                    database.store.drop_chunks(
                        raw_tables[0], [stmt.shard_id]
                    )
                results.append(entry)
                continue
            if isinstance(stmt, DropMeasurement):
                if read_only:
                    raise InfluxQLPlanError(
                        "DROP MEASUREMENT requires a POST request"
                    )
                if database is None:
                    raise InfluxQLPlanError(
                        "DROP MEASUREMENT is not available on this endpoint"
                    )
                if stmt.name not in catalog:
                    raise InfluxQLPlanError(
                        f"unknown measurement {stmt.name!r}"
                    )
                database.drop_table(stmt.name)
                results.append(entry)  # stock: empty result on success
                continue
            if isinstance(stmt, ShowStatement) and stmt.what in (
                "stats", "diagnostics"
            ):
                series = _show_stats_series(
                    stmt, database, now_ns,
                    tracker=tracker, subscriptions=subscriptions,
                )
                if series:
                    entry["series"] = series
                results.append(entry)
                continue
            if isinstance(stmt, ShowStatement) and stmt.what in (
                "shards", "shard groups"
            ):
                series = _show_shards_series(stmt, database, now_ns)
                if series and series[0]["values"]:
                    entry["series"] = series
                results.append(entry)
                continue
            if isinstance(stmt, ExplainStatement):
                df, _tags = plan_select_with_tags(
                    stmt.select, catalog, now_ns=now_ns
                )
                qe = df._jdf.queryExecution()
                if stmt.analyze:
                    # EXPLAIN ANALYZE runs df's OWN QueryExecution, so AQE
                    # finalizes exactly the plan printed, with its metrics
                    df.collect()
                    text = "\n".join(_plan_with_metrics(qe.executedPlan()))
                else:
                    jvm = df.sparkSession._jvm
                    text = (
                        jvm.org.apache.spark.sql.api.python.PythonSQLUtils
                        .explainString(qe, "formatted")
                    )
                entry["series"] = [
                    {
                        "columns": ["QUERY PLAN"],
                        "values": [[ln] for ln in text.splitlines() if ln],
                    }
                ]
                results.append(entry)
                continue
            if isinstance(stmt, (DeleteStatement, DropSeries)):
                from influxdb_iox_spark.influxql.planner import (
                    run_delete,
                    run_drop_series,
                )

                kind = (
                    "DELETE" if isinstance(stmt, DeleteStatement)
                    else "DROP SERIES"
                )
                if read_only:
                    raise InfluxQLPlanError(
                        f"{kind} requires a POST request"
                    )
                if database is None:
                    raise InfluxQLPlanError(
                        f"{kind} is not available on this endpoint"
                    )
                if isinstance(stmt, DeleteStatement):
                    run_delete(stmt, catalog, database, now_ns=now_ns)
                else:
                    run_drop_series(stmt, catalog, database)
                results.append(entry)  # stock: empty result on success
                continue
            if isinstance(stmt, (CreateContinuousQuery, DropContinuousQuery)):
                from influxdb_iox_spark.influxql.cq import (
                    ContinuousQueryRegistry,
                )

                if read_only:
                    raise InfluxQLPlanError(
                        "continuous-query DDL requires a POST request"
                    )
                if database is None:
                    raise InfluxQLPlanError(
                        "continuous queries are not available on this "
                        "endpoint"
                    )
                reg = ContinuousQueryRegistry(database)
                if isinstance(stmt, CreateContinuousQuery):
                    reg.create(stext)
                else:
                    reg.drop(stmt.name)
                results.append(entry)
                continue
            if (
                isinstance(stmt, ShowStatement)
                and stmt.what == "continuous queries"
            ):
                # stock framing: one series per database, columns
                # (name, query)
                from influxdb_iox_spark.influxql.cq import (
                    ContinuousQueryRegistry,
                )

                cqs = (
                    ContinuousQueryRegistry(database).list()
                    if database is not None
                    else []
                )
                entry["series"] = [
                    {
                        "name": db_name,
                        "columns": ["name", "query"],
                        "values": [
                            [c["name"], c["text"]]
                            for c in cqs
                            if c["db"] == db_name
                        ],
                    }
                    for db_name in (databases or [])
                ]
                results.append(entry)
                continue
            if isinstance(stmt, SelectStatement) and stmt.into is not None:
                from influxdb_iox_spark.influxql.planner import run_into

                if read_only:
                    raise InfluxQLPlanError(
                        "SELECT ... INTO requires a POST request"
                    )
                if database is None:
                    raise InfluxQLPlanError(
                        "INTO is not available on this endpoint"
                    )
                n = run_into(stmt, catalog, database, now_ns=now_ns)
                entry["series"] = [
                    {
                        "name": "result",
                        "columns": ["time", "written"],
                        "values": [[_time_value(0, epoch), n]],
                    }
                ]
                results.append(entry)
                continue
            group_tags: list[str] = []
            if isinstance(stmt, SelectStatement):
                df, group_tags = plan_select_with_tags(
                    stmt, catalog, now_ns=now_ns
                )
            else:
                retention = None
                if (
                    database is not None
                    and isinstance(stmt, ShowStatement)
                    and stmt.what == "retention policies"
                ):
                    from influxdb_iox_spark.retention import (
                        RetentionRegistry,
                    )

                    retention = RetentionRegistry(
                        database.store.base_dir
                    ).policies()
                df = plan_show(
                    stmt, catalog, databases=databases, now_ns=now_ns,
                    retention=retention,
                )
            rows = df.limit(max_rows + 1).collect()
            if len(rows) > max_rows:
                raise InfluxQLPlanError(
                    f"result exceeds max_rows={max_rows}; add a LIMIT "
                    "clause or page the query"
                )
            cols = df.columns
            if isinstance(stmt, SelectStatement):
                series = _frame_select(stmt, cols, rows, epoch, group_tags)
            else:
                series = _frame_show(stmt, cols, rows)
            if series:
                entry["series"] = series
        except Exception as e:  # per-statement error, stock envelope
            entry["error"] = str(e) or repr(e)
        results.append(entry)
    return {"results": results}


def render_csv(envelope: dict) -> bytes:
    """The stock ``Accept: application/csv`` rendering of a v1 envelope:
    ``name,tags,<columns...>`` with the series tag set flattened to
    comma-joined ``k=v`` pairs in the ``tags`` cell (csv-quoted), one
    header per column-set change.  Statements that errored contribute no
    rows (their error stays JSON-only, as stock does)."""
    import csv
    import io

    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    last_header: tuple | None = None
    for result in envelope.get("results", []):
        for s in result.get("series", []):
            header = ("name", "tags", *s.get("columns", []))
            if header != last_header:
                w.writerow(header)
                last_header = header
            tags = ",".join(
                f"{k}={v}" for k, v in sorted((s.get("tags") or {}).items())
            )
            name = s.get("name", "")
            for row in s.get("values", []):
                w.writerow([name, tags, *["" if v is None else v for v in row]])
    return buf.getvalue().encode()


def _batches(rows_iter, n: int):
    """(batch, has_more) pairs of ≤n rows with one-row lookahead, so the
    final batch is KNOWN final (stock's partial flag is exact, never a
    trailing empty continuation)."""
    buf: list = []
    for row in rows_iter:
        buf.append(row)
        if len(buf) == n + 1:
            yield buf[:n], True
            buf = buf[n:]
    yield buf, False


def run_statements_chunked(
    text: str,
    catalog: dict[str, Measurement],
    databases: list[str] | None = None,
    epoch: str | None = None,
    chunk_size: int = 10_000,
    now_ns: int | None = None,
    database=None,
    read_only: bool = False,
    max_rows: int = 10_000,
    resolve_database=None,
    registry=None,
    identity: str | None = None,
    selected_db: str | None = None,
    tracker=None,
    subscriptions=None,
):
    """The ``chunked=true`` form of run_statements: yields one envelope
    document per chunk (stock streams these newline-separated over HTTP
    chunked transfer).  SELECT results stream through
    ``DataFrame.toLocalIterator`` in ``chunk_size``-row batches — driver
    memory stays O(chunk_size + one partition) however large the result,
    which is WHY stock exempts chunked responses from the row cap.  A
    chunk whose statement continues carries ``"partial": true`` on the
    entry and its last series (stock's continuation contract).
    Non-SELECT statements (SHOW/DELETE/DDL/INTO) execute through the
    normal path and arrive as single chunks."""
    if epoch is not None and epoch not in _EPOCH_DIV:
        raise ValueError(f"invalid epoch {epoch!r}")
    if chunk_size <= 0:
        raise ValueError("chunk_size must be positive")
    now_ns = now_ns if now_ns is not None else _time.time_ns()
    for i, stext in enumerate(split_statements(text)):
        try:
            stmt = parse(stext)
        except Exception as e:
            yield {"results": [{"statement_id": i, "error": str(e) or repr(e)}]}
            continue
        if not isinstance(stmt, SelectStatement) or stmt.into is not None:
            env = run_statements(
                stext,
                catalog,
                databases=databases,
                epoch=epoch,
                max_rows=max_rows,
                now_ns=now_ns,
                database=database,
                read_only=read_only,
                resolve_database=resolve_database,
                registry=registry,
                identity=identity,
                selected_db=selected_db,
                tracker=tracker,
                subscriptions=subscriptions,
            )
            entry = env["results"][0]
            entry["statement_id"] = i
            yield {"results": [entry]}
            continue
        try:
            _check_privilege(stmt, registry, identity, selected_db)
            df, group_tags = plan_select_with_tags(stmt, catalog, now_ns=now_ns)
            cols = df.columns
            for batch, has_more in _batches(
                df.toLocalIterator(), chunk_size
            ):
                entry = {"statement_id": i}
                series = _frame_select(stmt, cols, batch, epoch, group_tags)
                if series:
                    entry["series"] = series
                if has_more:
                    entry["partial"] = True
                    if series:
                        series[-1]["partial"] = True
                yield {"results": [entry]}
        except Exception as e:  # per-statement error, stock envelope
            yield {"results": [{"statement_id": i, "error": str(e) or repr(e)}]}
