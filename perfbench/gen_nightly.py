"""Seeded generator of TAAR-shaped nightly inputs for the taar_nightly
workload. The same seed and day count give byte-identical files.

Layout under <out>/:
  day-<YYYY-MM-DD>/amo/page-<n>.jsonl   AMO catalog pages, 100 addons each
  day-<YYYY-MM-DD>/versions.parquet     (guid, first_create_date) feed
  day-<YYYY-MM-DD>/editorial.parquet    editorial shortlist, with invalid rows
  clients.parquet/                      clients_last_seen-shaped, one file a day
  addons.parquet/                       one row per (client, active addon, day)
  deletions.parquet                     opt-out deletion requests
"""
import datetime as dt
import itertools
import json
import random
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

FIRST_DAY = dt.date(2026, 3, 2)
EPOCH = dt.date(1970, 1, 1)
PIONEER = "pioneer-opt-in@mozilla.org"
PAGE_SIZE = 100
BASE_ADDONS = 1500
NEW_ADDONS_PER_DAY = 20
CLIENTS = 6000
EDITORIAL_VALID = 110
ACTIVE_SHARE = 0.85
OPT_OUT_SHARE = 0.02

ADDON_FIELDS = [
    ("addon_id", pa.string()), ("blocklisted", pa.bool_()), ("name", pa.string()),
    ("user_disabled", pa.bool_()), ("app_disabled", pa.bool_()), ("version", pa.string()),
    ("scope", pa.int64()), ("type", pa.string()), ("foreign_install", pa.bool_()),
    ("has_binary_components", pa.bool_()), ("install_day", pa.int64()),
    ("update_day", pa.int64()), ("signed_state", pa.int64()), ("is_system", pa.bool_()),
    ("is_web_extension", pa.bool_()), ("multiprocess_compatible", pa.bool_())]
CLIENT_SCHEMA = pa.schema([
    ("client_id", pa.string()), ("submission_date", pa.date32()), ("city", pa.string()),
    ("locale", pa.string()), ("os", pa.string()),
    ("subsession_hours_sum", pa.float64()), ("places_bookmarks_count_mean", pa.float64()),
    ("scalar_parent_browser_engagement_tab_open_event_count_sum", pa.int64()),
    ("scalar_parent_browser_engagement_total_uri_count_sum", pa.int64()),
    ("scalar_parent_browser_engagement_unique_domains_count_mean", pa.float64()),
    ("active_addons", pa.list_(pa.struct(ADDON_FIELDS)))])
ADDON_ROW_SCHEMA = pa.schema([
    ("client_id", pa.string()), ("addon_id", pa.string()), ("submission_date", pa.date32())])
DELETION_SCHEMA = pa.schema([
    ("client_id", pa.string()), ("submission_timestamp", pa.timestamp("us", tz="UTC"))])

CITIES = ["Berlin", "Paris", "Toronto", "Lagos", "Lima", "Osaka", "Pune", "Oslo", "??"]
LOCALES = ["en-US", "de", "fr", "ja", "pt-BR", "es-ES", "hi-IN"]
OSES = ["Windows_NT", "Darwin", "Linux"]
PROMOTED = [("recommended", 0.15), ("line", 0.05)]


def day_list(days):
    return [FIRST_DAY + dt.timedelta(days=i) for i in range(days)]


def as_of_micros(day):
    return (day - EPOCH).days * 86400 * 1000000


def _maybe(rng, share, value):
    return None if rng.random() < share else value


def _addon(rng, i, created):
    files = [{"id": rng.randrange(1, 10 ** 7),
              "platform": rng.choice(["all", "windows", "mac", "linux"]),
              "status": "public",
              "is_webextension": rng.random() < 0.85}
             for _ in range(rng.choice([0, 1, 1, 1, 2, 3]))]
    r = rng.random()
    promoted = None
    for cat, share in PROMOTED:
        if r < share:
            promoted = {"category": cat}
            break
        r -= share
    name = f"addon {i}"
    return {
        "guid": PIONEER if i == 7 else f"addon-{i:05d}-{rng.getrandbits(24):06x}@graft.test",
        "categories": {"firefox": rng.sample(["privacy", "tabs", "photos", "social"], 2)},
        "default_locale": "en-US",
        "description": {"en-US": f"{name} does things"},
        "name": {"en-US": name},
        "current_version": {"files": files},
        "ratings": {"average": round(rng.uniform(1.0, 5.0), 2),
                    "bayesian_average": round(rng.uniform(1.0, 5.0), 3),
                    "count": rng.randrange(0, 5000), "text_count": rng.randrange(0, 500)},
        "promoted": promoted,
        "summary": {"en-US": f"summary of {name}"},
        "tags": rng.sample(["new", "popular", "legacy", "dark"], rng.randrange(0, 3)),
        "weekly_downloads": rng.randrange(0, 100000),
        "icon_url": f"https://addons.invalid/{i}.png",  # undeclared: projected away
        "_created": created,
        "_has_version": rng.random() < 0.92,
    }


def _write_jsonl(path, rows):
    path.write_text("".join(json.dumps(r, sort_keys=True) + "\n" for r in rows))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def generate(seed, days, out):
    """Write `days` nightly days of inputs under `out` and return a
    manifest the driver and the correctness gate read."""
    rng = random.Random(seed)
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    day_dates = day_list(days)
    first_epoch_day = (FIRST_DAY - EPOCH).days

    n_addons = BASE_ADDONS + NEW_ADDONS_PER_DAY * days
    addons = []
    for i in range(n_addons):
        if i < BASE_ADDONS:
            created = FIRST_DAY - dt.timedelta(days=rng.randrange(1, 900))
        else:
            created = FIRST_DAY + dt.timedelta(days=(i - BASE_ADDONS) // NEW_ADDONS_PER_DAY)
        addons.append(_addon(rng, i, created))
    # popularity rank: a seeded permutation, Zipf weights over it
    popularity = list(range(n_addons))
    rng.shuffle(popularity)
    weights = [0.0] * n_addons
    for rank, i in enumerate(popularity):
        weights[i] = 1.0 / (rank + 1) ** 1.1

    cum = list(itertools.accumulate(weights[:BASE_ADDONS]))
    clients = []
    for _ in range(CLIENTS):
        k = rng.choice([0, 1, 2, 3, 3, 4, 4, 5, 6, 8])
        picks = set()
        while len(picks) < k:
            picks.add(rng.choices(range(BASE_ADDONS), cum_weights=cum)[0])
        clients.append({
            "client_id": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
            "city": rng.choice(CITIES), "locale": rng.choice(LOCALES), "os": rng.choice(OSES),
            "addons": {i: (first_epoch_day - rng.randrange(200, 900),
                           first_epoch_day - rng.randrange(0, 150)) for i in sorted(picks)},
        })

    manifest = {"seed": seed, "days": [], "clients": str(out / "clients.parquet"),
                "addons": str(out / "addons.parquet"),
                "deletions": str(out / "deletions.parquet"),
                "catalog_rows": 0, "client_rows": 0, "addon_rows": 0}
    (out / "clients.parquet").mkdir(exist_ok=True)
    (out / "addons.parquet").mkdir(exist_ok=True)
    deletions = []
    for c in rng.sample(clients, CLIENTS // 50):  # requests before the first day
        ts = dt.datetime.combine(FIRST_DAY, dt.time(), dt.timezone.utc) - dt.timedelta(
            seconds=rng.randrange(1, 40 * 86400))
        deletions.append({"client_id": c["client_id"], "submission_timestamp": ts})

    for d, day in enumerate(day_dates):
        ddir = out / f"day-{day}"
        (ddir / "amo").mkdir(parents=True, exist_ok=True)
        live = [a for a in addons if a["_created"] <= day]
        for a in rng.sample(live, len(live) // 20):  # daily rating drift
            a["ratings"]["average"] = round(min(5.0, max(1.0,
                a["ratings"]["average"] + rng.uniform(-0.5, 0.5))), 2)
        for p in range(0, len(live), PAGE_SIZE):
            _write_jsonl(ddir / "amo" / f"page-{p // PAGE_SIZE + 1}.jsonl",
                         [{k: v for k, v in a.items() if not k.startswith("_")}
                          for a in live[p:p + PAGE_SIZE]])
        versioned = [a for a in live if a["_has_version"]]
        _write(pa.table({
            "guid": [a["guid"] for a in versioned],
            "first_create_date": [f"{a['_created']}T{rng.randrange(24):02d}:"
                                  f"{rng.randrange(60):02d}:{rng.randrange(60):02d}Z"
                                  for a in versioned]}), ddir / "versions.parquet")
        shortlist = [a["guid"] for a in rng.sample(live, EDITORIAL_VALID)]
        shortlist += rng.sample(shortlist, 10) + ["", "null", None, None]
        rng.shuffle(shortlist)
        _write(pa.table({"guid": pa.array(shortlist, pa.string())}), ddir / "editorial.parquet")

        rows, addon_rows = [], []
        for c in clients:
            if rng.random() >= ACTIVE_SHARE:
                continue
            if c["addons"] and rng.random() < 0.1:  # an addon updates today
                i = rng.choice(list(c["addons"]))
                c["addons"][i] = (c["addons"][i][0], first_epoch_day + d)
            active = [{
                "addon_id": addons[i]["guid"], "blocklisted": False,
                "name": f"addon {i}", "user_disabled": rng.random() < 0.05,
                "app_disabled": False, "version": f"1.{rng.randrange(20)}", "scope": 1,
                "type": "extension", "foreign_install": False,
                "has_binary_components": False, "install_day": inst, "update_day": upd,
                "signed_state": 2, "is_system": False, "is_web_extension": True,
                "multiprocess_compatible": True} for i, (inst, upd) in c["addons"].items()]
            rows.append({
                "client_id": c["client_id"], "submission_date": day, "city": c["city"],
                "locale": c["locale"], "os": c["os"],
                "subsession_hours_sum": _maybe(rng, 0.05, round(rng.uniform(0, 40), 3)),
                "places_bookmarks_count_mean": _maybe(rng, 0.1, round(rng.uniform(0, 900), 1)),
                "scalar_parent_browser_engagement_tab_open_event_count_sum":
                    _maybe(rng, 0.1, rng.randrange(0, 3000)),
                "scalar_parent_browser_engagement_total_uri_count_sum":
                    _maybe(rng, 0.1, rng.randrange(0, 20000)),
                "scalar_parent_browser_engagement_unique_domains_count_mean":
                    _maybe(rng, 0.1, round(rng.uniform(0, 300), 2)),
                "active_addons": active})
            addon_rows += [{"client_id": c["client_id"], "addon_id": a["addon_id"],
                            "submission_date": day} for a in active]
        _write(pa.Table.from_pylist(rows, CLIENT_SCHEMA),
               out / "clients.parquet" / f"part-{day}.parquet")
        _write(pa.Table.from_pylist(addon_rows, ADDON_ROW_SCHEMA),
               out / "addons.parquet" / f"part-{day}.parquet")
        midnight = dt.datetime.combine(day, dt.time(), dt.timezone.utc)
        for c in rng.sample(clients, int(CLIENTS * OPT_OUT_SHARE)):
            deletions.append({"client_id": c["client_id"],
                              "submission_timestamp": midnight + dt.timedelta(
                                  seconds=rng.randrange(86400))})
        manifest["days"].append({
            "date": str(day), "as_of_micros": as_of_micros(day),
            "amo": str(ddir / "amo"), "versions": str(ddir / "versions.parquet"),
            "editorial": str(ddir / "editorial.parquet")})
        manifest["catalog_rows"] += len(live)
        manifest["client_rows"] += len(rows)
        manifest["addon_rows"] += len(addon_rows)
    _write(pa.Table.from_pylist(deletions, DELETION_SCHEMA), out / "deletions.parquet")
    return manifest
