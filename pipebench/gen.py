"""Seeded input generator for the pipebench workloads.

Each `gen_<workload>` writes the workload's input files, a
`sources.json`-shaped config file (loaded by the program through
`ConfigLoader.loadUri` with the `file` scheme) and `manifest.json`, the
outcomes the output checks expect. The program sees only the files and
the config; the manifest is for the harness.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS = ["page_view", "purchase", "signup", "search", "click", "share"]
# Share of rows planted to land in the transform DLQ, per reason, and
# share of good rows planted with a null insert_id (the program mints
# a UUID for them).
DLQ_EVENT, DLQ_REQUIRED, NULL_ID = 0.005, 0.005, 0.005

CORE_MAPPINGS = [
    {"source_field": "bussiness_ts", "mixpanel_field": "time",
     "type": "unix_timestamp_auto"},
    {"source_field": "user_id", "mixpanel_field": "$user_id", "type": "string"},
    {"source_field": "did", "mixpanel_field": "$device_id", "type": "string"},
    {"source_field": "insert_id", "mixpanel_field": "$insert_id",
     "type": "string_or_uuid"},
    {"source_field": "amount", "mixpanel_field": "amount", "type": "integer",
     "is_required_in_source": True},
    {"source_field": "*", "mixpanel_field": "*"},
]


def config(cid, prefix, extra=(), file_type="PARQUET"):
    return {"config_id": cid, "source_gcs_prefix": prefix, "file_type": file_type,
            "mixpanel_event_name_from_field": "event_name",
            "field_mappings": list(extra) + CORE_MAPPINGS}


class Tally:
    """Expected outcomes, accumulated per generated file."""

    def __init__(self):
        self.rows = self.good = self.gen_ids = self.null_ids = self.amount = 0
        self.dlq = {"missing_dynamic_event_name": 0, "missing_required_field": 0}
        self.file_good = {}

    def manifest(self):
        return {"rows_total": self.rows, "good_rows": self.good,
                "generated_ids": self.gen_ids, "null_insert_rows": self.null_ids,
                "amount_sum": self.amount,
                "dlq_by_reason": {k: v for k, v in self.dlq.items() if v},
                "file_good_rows": {str(k): v for k, v in self.file_good.items()}}


def core_columns(rng, n, cid, file_no, tally, ts):
    """The columns every ETL config maps, with planted DLQ rows and null
    insert ids; `ts` is the bussiness_ts column in the config's type."""
    u = rng.random(n)
    bad_event = u < DLQ_EVENT
    bad_amount = (u >= DLQ_EVENT) & (u < DLQ_EVENT + DLQ_REQUIRED)
    good = ~(bad_event | bad_amount)
    null_id = good & (rng.random(n) < NULL_ID)
    names = np.array(EVENTS)[rng.integers(0, len(EVENTS), n)]
    amount = rng.integers(0, 1000, n)
    event_name = [None if b else s for b, s in zip(bad_event, names)]
    amounts = [None if b else int(a) for b, a in zip(bad_amount, amount)]
    ids = [None if z else f"g:{cid}:{file_no}:{i}" for i, z in enumerate(null_id)]
    users = [f"u{x}" for x in rng.integers(0, 50000, n)]
    devices = [f"d{x}" for x in rng.integers(0, 80000, n)]
    g = int(good.sum())
    tally.rows += n
    tally.good += g
    tally.null_ids += int(null_id.sum())
    tally.gen_ids += g - int(null_id.sum())
    tally.amount += int(amount[good].sum())
    tally.dlq["missing_dynamic_event_name"] += int(bad_event.sum())
    tally.dlq["missing_required_field"] += int(bad_amount.sum())
    tally.file_good[file_no] = g
    return {"event_name": pa.array(event_name, pa.string()), "bussiness_ts": ts,
            "user_id": pa.array(users), "did": pa.array(devices),
            "insert_id": pa.array(ids, pa.string()),
            "amount": pa.array(amounts, pa.int64()),
            "file_no": pa.array(np.full(n, file_no), pa.int64())}


def epoch_seconds(rng, n):
    return rng.integers(1_700_000_000, 1_710_000_000, n)


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)


def gen_batch_backfill(rng, run, seconds):
    """A few dozen Parquet files under 4 config prefixes. bussiness_ts is
    a timestamp, an epoch int or a mixed-format string per config; one
    config has wide rows (batches flush at 2 MiB), one narrow rows
    (batches flush at 2000 events)."""
    lake = os.path.join(run, "lake")
    tally = Tally()
    pool = [bytes(rng.integers(97, 123, 48, dtype=np.uint8)).decode()
            for _ in range(4096)]
    str_formats = ["%Y-%m-%dT%H:%M:%SZ", "%Y/%m/%d %H:%M:%S", "epoch", "%d %b %Y"]
    specs = [("bb_wide", 4, 1000), ("bb_narrow", 8, 2000),
             ("bb_strts", 6, 1500), ("bb_cast", 6, 1500)]
    configs, file_no = [], 0
    for cid, files, rows in specs:
        os.makedirs(os.path.join(lake, cid))
        extra = []
        if cid == "bb_cast":
            extra = [{"source_field": "price_s", "mixpanel_field": "price",
                      "type": "float"},
                     {"source_field": "is_vip", "mixpanel_field": "is_vip",
                      "type": "boolean"},
                     {"source_field": "qty", "mixpanel_field": "qty",
                      "type": "integer"}]
        configs.append(config(cid, f"{lake}/{cid}/", extra))
        for k in range(files):
            secs = epoch_seconds(rng, rows)
            if cid == "bb_wide":
                ts = pa.array(secs * 1_000_000, pa.timestamp("us"))
            elif cid == "bb_strts":
                fmt = rng.integers(0, len(str_formats), rows)
                bad = rng.random(rows) < 0.01
                dt = secs.astype("datetime64[s]").astype(object)
                ts = pa.array([
                    f"n/a-{i}" if b else str(s) if str_formats[f] == "epoch"
                    else d.strftime(str_formats[f])
                    for i, (s, f, b, d) in enumerate(zip(secs, fmt, bad, dt))])
            else:
                ts = pa.array(secs, pa.int64())
            cols = core_columns(rng, rows, cid, file_no, tally, ts)
            if cid == "bb_wide":
                for w in range(24):
                    cols[f"w{w:02d}"] = pa.array(
                        [pool[i] for i in rng.integers(0, len(pool), rows)])
            if cid == "bb_cast":
                cols["price_s"] = pa.array(
                    [f"{p:.2f}" for p in rng.random(rows) * 500])
                cols["is_vip"] = pa.array(
                    np.array(["yes", "no", "1", "0", "t"])[rng.integers(0, 5, rows)])
                cols["qty"] = pa.array(rng.random(rows) * 20)
            pq.write_table(pa.table(cols),
                           os.path.join(lake, cid, f"part-{k:03d}.parquet"))
            file_no += 1
    write_json(os.path.join(run, "sources.json"), configs)
    m = tally.manifest()
    m.update(pattern=f"{lake}/*/*.parquet",
             routed={c["config_id"]: n for c, (_, n, _) in zip(configs, specs)},
             unmatched=0, read_errors={}, ledger_skipped=0)
    return m


# small_files: Parquet files per prefix group (10 groups, half ledgered)
# and other URIs (CSV-config and unmatched). One pass over 5000
# unledgered Parquet files took ~38 s at local[4], too long for a run
# when 92 runs must fit in an hour; the router still sees more than
# 10 000 URIs.
SMALL_PER_GROUP, SMALL_OTHER = 20, 10000


def gen_small_files(rng, run, seconds):
    """Tiny Parquet files, half of them already in the ledger, plus
    CSV-config, unmatched and corrupt files, so that more than
    BatchPipeline.DistributedRouteThreshold URIs reach the router. 16
    configs with overlapping prefixes exercise first-match-wins."""
    d = os.path.join(run, "lake", "sf")
    os.makedirs(d)
    p = d + "/"
    configs = [config(c, p + pre, file_type=t) for c, pre, t in [
        ("c_p1u", "p1_", "PARQUET"), ("c_p1", "p1", "PARQUET"),
        ("c_p2", "p2_", "PARQUET"), ("c_p3", "p3_", "PARQUET"),
        ("c_p4", "p4_", "PARQUET"), ("c_p5", "p5_", "PARQUET"),
        ("c_p6", "p6_", "PARQUET"), ("c_p7", "p7_", "PARQUET"),
        ("c_p8", "p8_", "PARQUET"), ("c_p", "p", "PARQUET"),
        ("c_csva", "csv_a_", "CSV"), ("c_csv", "csv_", "CSV"),
        ("c_p3dup", "p3_", "PARQUET"), ("c_q", "q_", "PARQUET"),
        ("c_p2x", "p2", "PARQUET"), ("c_y", "y_", "PARQUET")]]
    tally = Tally()
    ledgered, names, file_no = [], [], 0
    for g in ["p1_", "p10_", "p11_", "p2_", "p3_", "p4_", "p5_", "p6_", "p7_", "p8_"]:
        for k in range(SMALL_PER_GROUP):
            name = f"{g}{k:04d}.parquet"
            n = int(rng.integers(2, 9))
            ts = pa.array(epoch_seconds(rng, n), pa.int64())
            if k % 2:
                # imported by an earlier run: in the ledger, so never
                # expected at the endpoint
                cols = core_columns(rng, n, "sf", file_no, Tally(), ts)
                ledgered.append(p + name)
            else:
                cols = core_columns(rng, n, "sf", file_no, tally, ts)
            pq.write_table(pa.table(cols), p + name)
            names.append(name)
            file_no += 1
    for k in range(40):
        name = f"p{3 + k % 5}_bad{k:02d}.parquet"
        with open(p + name, "wb") as f:
            f.write(b"PAR1 truncated upload " * 4)
        names.append(name)
    for k in range(SMALL_OTHER // 4):
        for g in ("csv_a_", "csv_b_"):
            with open(p + f"{g}{k:04d}.csv", "w") as f:
                f.write("event_name,amount\nclick,1\n")
            names.append(f"{g}{k:04d}.csv")
    for k in range(SMALL_OTHER // 2):
        with open(p + f"zz_{k:04d}.json", "w") as f:
            f.write('{"event_name": "click"}\n')
        names.append(f"zz_{k:04d}.json")
    ledger_init = os.path.join(run, "ledger_init")
    os.makedirs(ledger_init)
    pq.write_table(pa.table({
        "uri": pa.array(ledgered),
        "recorded_at": pa.array(np.full(len(ledgered), 1_700_000_000_000_000),
                                pa.timestamp("us"))}),
        os.path.join(ledger_init, "part-00000.parquet"))
    skip = set(ledgered)
    routed = {c["config_id"]: 0 for c in configs}
    read_errors, unmatched, imported = {}, 0, []
    for name in names:
        if p + name in skip:
            continue
        cfg = next((c for c in configs
                    if (p + name).startswith(c["source_gcs_prefix"])), None)
        if cfg is None:
            unmatched += 1
            continue
        routed[cfg["config_id"]] += 1
        if cfg["file_type"] != "PARQUET":
            continue
        if "_bad" in name:
            read_errors[cfg["config_id"]] = read_errors.get(cfg["config_id"], 0) + 1
        else:
            imported.append(p + name)
    assert len(names) - len(ledgered) > 10000  # past the distributed-route threshold
    write_json(os.path.join(run, "sources.json"), configs)
    m = tally.manifest()
    m.update(pattern=f"{d}/*", ledger_init=ledger_init, routed=routed,
             unmatched=unmatched, read_errors=read_errors,
             ledger_skipped=len(ledgered), ledgered_uris=ledgered,
             imported_uris=imported)
    return m


# stream_shared_dir schedule: files per second, warm-up seconds, rows
# per file. At 12 and 20 files/s the micro-batches fell behind and lag
# grew run over run.
STREAM_RATE, STREAM_WARMUP_S, STREAM_ROWS = 6, 2, 30


def gen_stream_shared_dir(rng, run, seconds):
    """Small Parquet files, written aside into a staging directory; the
    harness renames file k into the watched directory at due_ms(k). The
    due time is stamped in each file's `due_ms` column."""
    stage, watch = os.path.join(run, "stage"), os.path.join(run, "watch")
    os.makedirs(stage)
    os.makedirs(watch)
    configs = [config(f"s{c}", f"{watch}/s{c}_") for c in range(4)]
    tally, files = Tally(), []
    n_files = STREAM_RATE * STREAM_WARMUP_S + max(1, int(STREAM_RATE * seconds))
    for k in range(n_files):
        due = k * 1000 // STREAM_RATE
        name = f"s{k % 4}_{k:06d}.parquet"
        cols = core_columns(rng, STREAM_ROWS, f"s{k % 4}", k, tally,
                            pa.array(epoch_seconds(rng, STREAM_ROWS), pa.int64()))
        cols["due_ms"] = pa.array(np.full(STREAM_ROWS, due), pa.int64())
        pq.write_table(pa.table(cols), os.path.join(stage, name))
        files.append({"name": name, "file_no": k, "due_ms": due,
                      "good_rows": tally.file_good[k]})
    write_json(os.path.join(run, "sources.json"), configs)
    m = tally.manifest()
    m.update(stage=stage, watch=watch, files=files,
             warmup_files=STREAM_RATE * STREAM_WARMUP_S)
    return m


VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
CORPUS_DOCS = 600


def write_documents(rng, path, n):
    dups = set(rng.choice(np.arange(11, n), n // 20, replace=False).tolist())
    texts = []
    for i in range(n):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    langs = np.array(["en", "en", "en", "zh", "es", "fr", "de"])[rng.integers(0, 7, n)]
    os.makedirs(path)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(path, "documents.parquet"))


def gen_corpus_tiers(rng, run, seconds):
    """A `documents` table shaped like the bench's sf0.1 one: 30-word
    vocabulary, 10-100 words per doc, 5 languages, 20 sources, and 5%
    near-duplicates (an earlier doc plus " dup")."""
    write_documents(rng, os.path.join(run, "sf"), CORPUS_DOCS)
    return {"sf": os.path.join(run, "sf"), "docs": CORPUS_DOCS}


def generate(workload, seed, run, seconds):
    os.makedirs(run)
    rng = np.random.default_rng(seed)
    m = globals()[f"gen_{workload}"](rng, run, seconds)
    cfg = os.path.join(run, "sources.json")
    if os.path.exists(cfg):
        m["config_uri"] = "file://" + cfg
    write_json(os.path.join(run, "manifest.json"), m)
    return m
