"""Seeded inputs for the benchmark, plus the truth the harness checks against.

Two data sets; the same seed gives the same inputs:

* the export corpus (es_export, parquet_export): daily indices of documents
  shaped like the reference's office365_signin traffic -- 26 props fields,
  epoch-millis longs, nulls, the nested `original_log` document carried as an
  escaped JSON string (as in the reference's committed schema), and a fixed
  share of malformed props. Stored twice, one file per day: as Parquet under
  `events.parquet/` for `Pipeline.exportByType`, and as JSON lines under
  `es/` for the stub cluster's daily indices.
* the query_mix tables: a copy of the repo's sf0.01 fixture tables (region ..
  embeddings), the same for every seed.

`truth.json` holds what a correct export must report, computed here in
integer arithmetic, never by the engine under test.
"""
import calendar
import datetime as dt
import glob
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.01")
EPOCH0 = dt.date(2024, 3, 1)


def _us(day):
    """Epoch microseconds of a UTC midnight."""
    return calendar.timegm(day.timetuple()) * 1_000_000


def _day(ts_us):
    return dt.date(1970, 1, 1) + dt.timedelta(days=ts_us // DAY_US)

# Export corpus shape. The window is the CLI default (7 days); the corpus
# covers twice that, so half the daily indices must be pruned.
CORPUS_DAYS = 14
DOCS_PER_DAY = 500
WINDOW_DAYS = 7
TOP_K = 10
# Every 40th document of a daily index (position 39, 79, ...) has truncated
# props: a fixed 2.5% dead-letter share. The schema sample starts at the
# window's lowest event_id, so it begins with a well-formed document.
MALFORMED_EVERY = 40
RULES = [("office365_signin", 0.40), ("office365_audit", 0.20), ("vpn_login", 0.15),
         ("firewall_deny", 0.10), ("dns_query", 0.08), ("web_proxy", 0.07)]

APPS = ["ACOM Azure Website", "Office 365 Exchange Online", "Microsoft Teams", "SharePoint Online"]
OSES = ["MacOs", "Windows 10", "iOS", "Android", "Linux"]
BROWSERS = ["Chrome 77.0.3865", "Edge 18.17763", "Safari 13.0", "Firefox 69.0"]
COUNTRIES = ["CN", "US", "DE", "JP", "FR", "BR"]
STATUSES = ["Success", "Failure", "Interrupted"]
CLIENT_APPS = ["Browser", "Mobile Apps and Desktop clients", "Exchange ActiveSync"]
RESOURCES = ["Windows Azure Active Directory", "Office 365 SharePoint Online", "Microsoft Graph"]


def _nullable(rng, p, v):
    return None if rng.random() < p else v


def _props(rng, rule, occur_ms, user_id):
    city = ["Nanjing", "Boston", "Berlin", "Tokyo"][int(rng.integers(4))]
    original = {
        "id": f"{int(rng.integers(1 << 62)):016x}",
        "createdDateTime": dt.datetime.fromtimestamp(occur_ms / 1000, dt.timezone.utc).isoformat()[:23] + "Z",
        "isInteractive": bool(rng.random() < 0.7),
        "processingTimeInMilliseconds": int(rng.integers(5, 900)),
        "location": {"city": city, "geoCoordinates": {
            "latitude": round(float(rng.uniform(-80, 80)), 6),
            "longitude": round(float(rng.uniform(-170, 170)), 6), "altitude": None}},
        "status": {"errorCode": int(rng.integers(0, 3)) * 50000, "failureReason": None},
        "riskEventTypes": [],
    }
    return {
        "application": APPS[int(rng.integers(len(APPS)))],
        "operating_system": _nullable(rng, 0.1, OSES[int(rng.integers(len(OSES)))]),
        "receive_time": occur_ms + int(rng.integers(1_000, 120_000)),
        "collector_source": "office365_Azure_AD",
        "event_level": int(rng.integers(0, 4)),
        "customize_country": _nullable(rng, 0.15, COUNTRIES[int(rng.integers(len(COUNTRIES)))]),
        "occur_time": occur_ms,
        "browser": _nullable(rng, 0.1, BROWSERS[int(rng.integers(len(BROWSERS)))]),
        "event_name": "Office365SigninAuditLog",
        "rule_id": f"{int(rng.integers(1 << 32)):08x}-dda9-48f4-8bf4-749c6458d120",
        "original_log": json.dumps(original, separators=(",", ":")),
        "id": int(rng.integers(1 << 53)),
        "resource": RESOURCES[int(rng.integers(len(RESOURCES)))],
        "createdDateTime": original["createdDateTime"],
        "event_type": f"/0J5OSW2B{int(rng.integers(10_000)):04d}/OMFFA00G000d",
        "status": STATUSES[int(rng.integers(len(STATUSES)))],
        "position": occur_ms - int(rng.integers(0, 30_000_000)),
        "rule_name": rule,
        "dev_address": "127.0.0.1",
        "vendor": "Microsoft",
        "client_app": _nullable(rng, 0.1, CLIENT_APPS[int(rng.integers(len(CLIENT_APPS)))]),
        "user_name": f"user{user_id}@example.onmicrosoft.com",
        "data_source": "office365",
        "user": f"User {user_id}",
        "client_ip": ".".join(str(int(x)) for x in rng.integers(1, 255, 4)),
        "product": "singin",
    }


def export_corpus(rng, out):
    """Write the daily-index corpus and return its truth."""
    os.makedirs(f"{out}/events.parquet", exist_ok=True)
    os.makedirs(f"{out}/es", exist_ok=True)
    names = [r for r, _ in RULES]
    weights = np.array([w for _, w in RULES])
    docs = []  # (event_id, ts_us, rule, good, props_bytes)
    event_id = 0
    for d in range(CORPUS_DAYS):
        day0 = _us(EPOCH0 + dt.timedelta(days=d))
        # millisecond timestamps: the stub serves ISO instants, keep them exact
        offs = np.sort(rng.integers(0, DAY_US // 1000, DOCS_PER_DAY)) * 1000
        rules = rng.choice(len(names), DOCS_PER_DAY, p=weights)
        cols = {k: [] for k in ("event_id", "ts", "user_id", "event_type", "value", "props")}
        for pos in range(DOCS_PER_DAY):
            ts_us = day0 + int(offs[pos])
            user_id = int(rng.integers(1000))
            rule = names[rules[pos]]
            body = json.dumps(_props(rng, rule, ts_us // 1000, user_id), separators=(",", ":"))
            good = pos % MALFORMED_EVERY != MALFORMED_EVERY - 1
            props = body if good else body[: len(body) // 2]
            cols["event_id"].append(event_id)
            cols["ts"].append(ts_us)
            cols["user_id"].append(user_id)
            cols["event_type"].append(rule)
            cols["value"].append(round(float(rng.uniform(0, 500)), 2))
            cols["props"].append(props)
            docs.append((event_id, ts_us, rule, good, len(props.encode())))
            event_id += 1
        table = pa.table({
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"], pa.string()),
        })
        day = EPOCH0 + dt.timedelta(days=d)
        pq.write_table(table, f"{out}/events.parquet/{day.isoformat()}.parquet")
        # the same documents as the stub cluster's daily index, one JSON array per line
        with open(f"{out}/es/events-{day.strftime('%Y.%m.%d')}.jsonl", "w") as f:
            for row in zip(*(cols[k] for k in ("event_id", "ts", "user_id", "event_type", "value", "props"))):
                f.write(json.dumps(row, separators=(",", ":")) + "\n")

    counts = {}
    for _, _, rule, _, _ in docs:
        counts[rule] = counts.get(rule, 0) + 1
    menu = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
    chosen = menu[0][0]

    def audit(lo_us):
        per_day, json_bytes = {}, 0
        for _, ts_us, rule, good, nbytes in docs:
            if rule != chosen or ts_us < lo_us:
                continue
            day = _day(ts_us).isoformat()
            r = per_day.setdefault(day, [0, 0])
            r[0 if good else 1] += 1
            if good:
                json_bytes += nbytes
        return {"days": {d: {"n_rows": r[0], "n_dead": r[1]} for d, r in sorted(per_day.items())},
                "json_bytes": json_bytes}

    first_day_us = _us(EPOCH0)
    max_ts = max(ts for _, ts, _, _, _ in docs)
    # Cli.runEs: the window ends at the end of the newest daily index.
    es_lo = first_day_us + (CORPUS_DAYS - WINDOW_DAYS) * DAY_US
    day_names = [(EPOCH0 + dt.timedelta(days=d)).strftime("%Y.%m.%d") for d in range(CORPUS_DAYS)]
    return {
        "docs": len(docs),
        "window_days": WINDOW_DAYS,
        "top_k": TOP_K,
        "menu": [[k, v] for k, v in menu],
        "chosen": chosen,
        "es_audit": audit(es_lo),
        # Pipeline.exportByType: the window is max(ts) - 7 days.
        "parquet_audit": audit(max_ts - WINDOW_DAYS * DAY_US),
        "es_pruned_indices": [f"events-{d}" for d in day_names[:CORPUS_DAYS - WINDOW_DAYS]],
    }


def query_fixture(out):
    """Copy the fixture tables the 17 bench queries read into `out`; return q80's truth.

    The tables are the repo's shared sf0.01 test fixture (TESTDATA.md,
    FIXTURES.md section B), kept byte for byte under `fixture/sf0.01/`. They
    do not depend on the seed.
    """
    for p in sorted(glob.glob(f"{FIXTURE}/*.parquet")):
        shutil.copy(p, out)
    ev = pq.read_table(f"{out}/events.parquet", columns=["ts", "event_type", "props"])
    ts = ev.column("ts").cast(pa.int64()).to_numpy()
    # q80 is Pipeline.exportByType(purchase, 30 days): the window ends at max(ts)
    in_q80 = (ev.column("event_type").to_numpy(zero_copy_only=False) == "purchase") & (ts >= ts.max() - 30 * DAY_US)
    props = ev.column("props").to_pylist()

    def good(p):
        try:
            return isinstance(json.loads(p), dict)
        except (TypeError, ValueError):
            return False
    return {"q80_json_bytes": sum(len(props[i].encode()) for i in np.flatnonzero(in_q80) if good(props[i]))}


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; return the truth (also in truth.json)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    truth = {"seed": seed}
    if workload == "query_mix":
        truth.update(query_fixture(out))
    else:
        truth.update(export_corpus(rng, out))
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth
