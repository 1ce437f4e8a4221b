"""Seeded input generator for the paper-path benchmark.

Everything the program reads comes from here: a can_ids schema at real
season width, candump logs with a known reject mix, a 2020-shaped
season cut to one race (a clock-fixed race log with mab20 traps, a
reference-DB log, a Solcast CSV and a GPX track). The same seed gives
byte-identical files.

Each writer returns the facts the benchmark checks the program's output
against (per-file line counts, per-class drop counts, expected rows).
"""
import datetime as dt
import json
import os
import random

import numpy as np

# jump filter lag (TimeSeries.timestampJumpFilter's default k)
JUMP_LAG = 10000
# a clock jump between 100 s and 1000 s trips the filter
JUMP_US = 300 * 1_000_000
# crop-edge frames per file: early ones before the first frame's ts,
# late ones after the file's last frame's ts
CROP_EARLY = 3
CROP_LATE = 3
REJECT_EVERY = 200
# corpus clock: 2020-01-29 start, one frame every ~400 µs
T0_US = 1580300000 * 1_000_000
STEP_US = 400

UNITS = ["", "%", "A/100", "V/10", "C1", "W/10", "rpm1"]
MAB_SIG = 230
MAB_STATE = 64
MAB_PUMPS = 65

# slot layouts after the leading SIGNATURE byte, assigned to topics in
# turn; every layout keeps a declared size of at least 3 bytes, so a
# 2-byte frame is a length reject rather than a regex miss
LAYOUTS = [
    ["u8"] * 7,
    ["u16", "u8", "bit", "bit", "bit", "bit"],
    ["u16", "u16", "u8", "u8"],
    ["bit"] * 6,
    ["u8", "u8", "u16", "bit", "bit"],
]


def make_schema(seed, n_modules=8, topics_per_module=3):
    """A can_ids JSON document (lib/canparser.py's format) with
    n_modules × topics_per_module generated topics plus the MAB19
    module whose topics 64/65 the mab20 workaround rewrites. Topic k
    takes LAYOUTS[k % len(LAYOUTS)] and units in turn, so the schema's
    shape (width, declared sizes, value scales) depends on the sizes
    only; the seed draws topic ids and module signatures."""
    rng = random.Random(seed * 7919 + 1)
    sigs = rng.sample([s for s in range(1, 250) if s != MAB_SIG], n_modules)
    ids = rng.sample([t for t in range(16, 4096)
                      if t not in (MAB_STATE, MAB_PUMPS)],
                     n_modules * topics_per_module)
    modules = []
    for m, sig in enumerate(sigs):
        topics = []
        for j in range(topics_per_module):
            tid = ids[m * topics_per_module + j]
            layout = LAYOUTS[(m * topics_per_module + j) % len(LAYOUTS)]
            slots = [{"name": "SIGNATURE", "type": "uint8_t", "units": ""}]
            for f, typ in enumerate(layout):
                units = UNITS[(m * topics_per_module + j + f) % len(UNITS)]
                if typ == "u16":
                    slots.append({"name": f"F{f}_L", "type": "uint16_t",
                                  "units": units})
                    slots.append({"name": f"F{f}_H", "type": "uint16_t",
                                  "units": UNITS[f % len(UNITS)]})
                else:
                    slots.append({"name": f"F{f}", "type":
                                  "uint8_t" if typ == "u8" else "bitfield",
                                  "units": units})
            slots += [None] * (8 - len(slots))
            topics.append({"name": f"T{tid}", "description": "generated",
                           "id": tid, "bytes": slots})
        modules.append({"name": f"M{sig}", "description": "generated",
                        "signature": sig, "topics": topics})
    modules.append({
        "name": "MAB19", "description": "mab workaround module",
        "signature": MAB_SIG, "topics": [
            {"name": "STATE", "description": "boat state", "id": MAB_STATE,
             "bytes": [{"name": "SIGNATURE", "type": "uint8_t", "units": ""},
                       {"name": "STATE", "type": "uint8_t", "units": ""},
                       {"name": "ERROR", "type": "uint8_t", "units": ""}]
             + [None] * 5},
            {"name": "PUMPS", "description": "pump flags", "id": MAB_PUMPS,
             "bytes": [{"name": "SIGNATURE", "type": "uint8_t", "units": ""},
                       {"name": "PUMPS", "type": "uint8_t", "units": ""}]
             + [None] * 6}]})
    return {"version": f"bench-{seed}", "modules": modules}


def topic_table(schema):
    """(signature, topic id, declared size) per topic, the Q3 declared
    size counting a u16 pair as 2 and every other slot as 1 byte."""
    out = []
    for m in schema["modules"]:
        for t in m["topics"]:
            size = sum(2 if s["type"] in ("u16", "uint16_t") else 1
                       for s in t["bytes"]
                       if s is not None and not s["name"].endswith("_H"))
            out.append((m["signature"], t["id"], size))
    return out


def signal_count(schema):
    """Wide-matrix width: one column per decoded field."""
    return sum(1 for m in schema["modules"] for t in m["topics"]
               for s in t["bytes"]
               if s is not None and not s["name"].endswith("_H"))


HEX = np.frombuffer(b"0123456789ABCDEF", np.uint8)
GARBAGE = [b"ERROR bus-off on can0", b"(1580300000.123) can0 1F#00",
           b"(1580300000.123456) can0 011#ZZ", b""]
# line kinds
DECODED, GARBAGE_LINE, SHORT, UNKNOWN, MAB_PUMPS_TRAP, MAB_STATE_TRAP = range(6)


def format_lines(ts_us, topic, payload, length, kind, garbage_pick):
    """Render candump lines `(ssssssssss.uuuuuu) can0 TTT#HEX...` in one
    vectorized pass: a fixed-width character matrix, one row per line,
    trimmed to each row's length. Garbage rows take their text from
    GARBAGE[garbage_pick]. Returns the file's bytes."""
    n = len(ts_us)
    width = 30 + 16
    m = np.zeros((n, width), np.uint8)
    m[:, 0] = ord("(")
    secs = ts_us // 1_000_000
    us = ts_us % 1_000_000
    m[:, 1:11] = (secs[:, None] // 10 ** np.arange(9, -1, -1)) % 10 + 48
    m[:, 11] = ord(".")
    m[:, 12:18] = (us[:, None] // 10 ** np.arange(5, -1, -1)) % 10 + 48
    m[:, 18:25] = np.frombuffer(b") can0 ", np.uint8)
    m[:, 25:28] = HEX[(topic[:, None] >> np.array([8, 4, 0])) & 15]
    m[:, 28] = ord("#")
    m[:, 29:45:2] = HEX[payload >> 4]
    m[:, 30:46:2] = HEX[payload & 15]
    lens = 29 + 2 * length
    rows = np.arange(n)
    m[rows, np.minimum(lens, width - 1)] = ord("\n")
    lens = lens + 1
    for g, text in enumerate(GARBAGE):
        sel = (kind == GARBAGE_LINE) & (garbage_pick == g)
        m[sel, :len(text)] = np.frombuffer(text, np.uint8)
        m[sel, len(text)] = ord("\n")
        lens[sel] = len(text) + 1
    return m[np.arange(width)[None, :] < lens[:, None]].tobytes()


def _frames(rng, topics, n, t0_us, step_us, kind):
    """Columns for n lines of the given kinds: a µs clock that ticks on
    every frame line (garbage lines carry no frame), a topic, a payload
    led by the owning module's signature, and the payload length."""
    sig = np.array([t[0] for t in topics], np.int64)
    tid = np.array([t[1] for t in topics], np.int64)
    size = np.array([t[2] for t in topics], np.int64)
    pick = rng.integers(0, len(topics), n)
    tick = np.where(kind == GARBAGE_LINE, 0,
                    1 + rng.integers(0, 2 * step_us - 1, n))
    ts = t0_us + np.cumsum(tick)
    topic = tid[pick]
    length = size[pick].copy()
    payload = rng.integers(0, 256, (n, 8)).astype(np.uint8)
    payload[:, 0] = sig[pick]
    length[kind == SHORT] = 2
    unk = kind == UNKNOWN
    known = set(tid.tolist()) | {MAB_STATE, MAB_PUMPS}
    pool = np.array([t for t in range(16, 4096) if t not in known], np.int64)
    topic[unk] = pool[rng.integers(0, len(pool), int(unk.sum()))]
    length[unk] = 2 + rng.integers(0, 7, int(unk.sum()))
    for k, t, ln in ((MAB_PUMPS_TRAP, MAB_PUMPS, 8), (MAB_STATE_TRAP, MAB_STATE, 3)):
        sel = kind == k
        topic[sel] = t
        length[sel] = ln
        payload[sel, 0] = rng.integers(0, MAB_SIG, int(sel.sum()))
    return ts, topic, payload, length


def write_candump_corpus(out_dir, schema, seed, n_lines, n_files=4):
    """Few big candump logs with a seeded reject mix, for the parse
    stage. Per file, in line order:

    - line 1 is a decodable frame (it sets the crop's lower bound);
    - lines 2-4 are decodable frames stamped before line 1 and lines
      5-7 decodable frames stamped after the file's last frame: the
      crop drops all CROP_EARLY + CROP_LATE of them;
    - a clock jump of JUMP_US after `jump_at` decoded rows (line 1
      included): with fewer than JUMP_LAG rows before it, exactly
      `jump_at` rows after it fall in the jump filter's 100-1000 s lag
      window and are dropped, wherever the scan splits the file (the
      filter runs per split, and every split but the first starts past
      the jump);
    - one line in REJECT_EVERY (on average) of each of: garbage
      (regex miss), a 2-byte frame of a known topic (length reject)
      and an unknown topic (decode reject).

    Every other line is a decodable frame with a unique timestamp, so
    wide rows = decoded frames and
    lines = regex_miss + decode_reject + crop_drop + jump_drop + rows.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    topics = [t for t in topic_table(schema)
              if t[1] not in (MAB_STATE, MAB_PUMPS)]
    edge = 1 + CROP_EARLY + CROP_LATE
    files = []
    for f in range(n_files):
        n = n_lines // n_files
        r = rng.integers(0, REJECT_EVERY, n)
        kind = np.select([r == 0, r == 1, r == 2],
                         [GARBAGE_LINE, SHORT, UNKNOWN], DECODED)
        kind[:edge] = DECODED
        ts, topic, payload, length = _frames(
            rng, topics, n, T0_US + f * 86_400_000_000, STEP_US, kind)
        decoded_idx = np.flatnonzero(kind == DECODED)
        body = decoded_idx[decoded_idx >= edge]
        jump_at = 100 + int(rng.integers(0, 500))
        # rows sorted before the jump: line 1 plus jump_at - 1 body rows
        ts[body[jump_at - 1]:] += JUMP_US
        ts[1:1 + CROP_EARLY] = ts[0] - 1_000_000 * np.arange(1, CROP_EARLY + 1)
        ts[1 + CROP_EARLY:edge] = ts[-1] + JUMP_US * 4 + \
            1_000_000 * np.arange(1, CROP_LATE + 1)
        garbage_pick = rng.integers(0, len(GARBAGE), n)
        name = f"candump-2020-01-29_bulk{f}.log"
        path = os.path.join(out_dir, name)
        with open(path, "wb") as fh:
            fh.write(format_lines(ts, topic, payload, length, kind,
                                  garbage_pick))
        decoded = len(decoded_idx)
        crop = CROP_EARLY + CROP_LATE
        files.append({
            "file": name, "bytes": os.path.getsize(path), "lines": n,
            "regex_miss": int((kind == GARBAGE_LINE).sum()),
            "decode_reject": int(((kind == SHORT) | (kind == UNKNOWN)).sum()),
            "crop_drop": crop, "jump_drop": jump_at,
            "rows_out": decoded - crop - jump_at})
    return files


def reconcile(f):
    """in = out + Σ drops for one file's counts; returns the gap."""
    return f["lines"] - (f["rows_out"] + f["regex_miss"] +
                         f["decode_reject"] + f["crop_drop"] +
                         f["jump_drop"])


# ---------------------------------------------------------------- season

SITE = (-26.243602, -48.6417668)
EVENT = ("2020-01-29 03:00:00Z", "2020-02-03 02:59:59.999999Z")
# race log clock: one frame every ~2 ms (a live bus's rate; the jump
# filter's 10000-row lag must span well under its 100 s threshold), so
# 30k lines cover a minute
RACE_STEP_US = 2_000


def _iso(us):
    """UTC datetime of an integer µs epoch (exact, no float rounding)."""
    return (dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
            + dt.timedelta(microseconds=int(us)))


def write_season(out_dir, schema, seed, lines, period):
    """A 2020-shaped season, cut to one race: a race log whose raw
    clock is off by a fix (from -> to), with mab20 trap frames (topic
    65 sent 8 bytes long with a wrong signature byte, topic 64 with a
    wrong signature byte; both decode only under the workaround), a
    reference-DB log spanning the race at a low rate, a Solcast CSV
    over the event window and a GPX track over the race.

    Returns the season's wiring plus the final table's expected row
    count: the `period` buckets from the race's first to its last
    (fixed) frame, the resample grid."""
    os.makedirs(os.path.join(out_dir, "candump"), exist_ok=True)
    step = {"100ms": 100_000, "1s": 1_000_000}[period]
    rng = np.random.default_rng([seed, 2])
    topics = [t for t in topic_table(schema)
              if t[1] not in (MAB_STATE, MAB_PUMPS)]
    day0 = 1580299200 * 1_000_000  # 2020-01-29T12:00:00Z

    def write(name, ts, topic, payload, length, kind):
        with open(os.path.join(out_dir, "candump", name), "wb") as fh:
            fh.write(format_lines(ts, topic, payload, length, kind,
                                  np.zeros(len(ts), np.int64)))

    true0 = day0 + int(rng.integers(0, 3600)) * 1_000_000
    fix_us = int(rng.integers(1_000_000, 7_200_000_000)) * \
        (1 if rng.random() < 0.5 else -1)
    r = rng.integers(0, 50, lines)
    kind = np.select([r == 0, r == 1], [MAB_PUMPS_TRAP, MAB_STATE_TRAP],
                     DECODED)
    # traps never sit at the edges, so the first and last frames are
    # plain ones
    kind[0] = kind[-1] = DECODED
    ts, topic, payload, length = _frames(
        rng, topics, lines, true0 - fix_us, RACE_STEP_US, kind)
    name = "candump-2020-01-29_race0.log"
    write(name, ts, topic, payload, length, kind)
    frm = _iso(true0 - fix_us).replace(tzinfo=None)
    to = _iso(true0).replace(tzinfo=None)
    log = {"glob": f"candump/{name}", "from": frm.isoformat(),
           "to": to.isoformat(), "lines": lines}
    lo, hi = int(ts[0]) + fix_us, int(ts[-1]) + fix_us
    # reference DB: one frame every ~2 s from ten minutes before to ten
    # minutes after the race (its clock is already true, so it is parsed
    # without offset; the unify stage clips it into the race's range)
    db_lines = int((hi - lo) // 2_000_000) + 600
    kind = np.full(db_lines, DECODED)
    ts, topic, payload, length = _frames(rng, topics, db_lines,
                                         lo - 600_000_000, 2_000_000, kind)
    write("candump-from_db0.log", ts, topic, payload, length, kind)
    # Solcast: 5-minute periods over the whole event window
    start = int(dt.datetime(2020, 1, 29, 3, tzinfo=dt.timezone.utc).timestamp())
    end = int(dt.datetime(2020, 2, 3, 3, tzinfo=dt.timezone.utc).timestamp())
    rows = ["PeriodEnd,PeriodStart,Period,Ghi,Dni,Dhi,Airmass,AlbedoDaily"]
    for t in range(start, end, 300):
        hour = (t // 3600 - 3) % 24
        sun = max(0.0, 1 - abs(hour - 12) / 6)
        ghi = round(900 * sun * (0.8 + 0.2 * float(rng.random())), 1)
        rows.append("%s,%s,PT5M,%s,%s,%s,%s,%s" % (
            _iso((t + 300) * 1e6).strftime("%Y-%m-%dT%H:%M:%S+00:00"),
            _iso(t * 1e6).strftime("%Y-%m-%dT%H:%M:%S+00:00"),
            ghi, round(ghi * 0.7, 1), round(ghi * 0.3, 1),
            round(1 + 4 * (1 - sun), 2), round(0.2 + 0.05 * float(rng.random()), 3)))
    with open(os.path.join(out_dir, "solcast.csv"), "w") as fh:
        fh.write("\n".join(rows) + "\n")
    # GPX: one point per second over the race, on the −3 h local clock
    # the shift_back_localize join looks up
    pts = []
    lat, lon = SITE
    for t in range(lo // 1_000_000 - 3 * 3600 - 60,
                   hi // 1_000_000 - 3 * 3600 + 61):
        lat += (float(rng.random()) - 0.5) * 1e-4
        lon += (float(rng.random()) - 0.5) * 1e-4
        pts.append('<trkpt lat="%.7f" lon="%.7f"><ele>%.1f</ele>'
                   '<time>%s</time></trkpt>' % (
                       lat, lon, float(rng.random()) * 3,
                       _iso(t * 1e6).strftime("%Y-%m-%dT%H:%M:%SZ")))
    with open(os.path.join(out_dir, "track.gpx"), "w") as fh:
        fh.write('<?xml version="1.0"?><gpx version="1.1"><trk><trkseg>'
                 + "".join(pts) + "</trkseg></trk></gpx>\n")
    return {"log": log, "db_glob": "candump/candump-from_db*.log",
            "db_lines": db_lines, "lines": lines + db_lines,
            "site": list(SITE), "event": list(EVENT), "period": period,
            "solcast": "solcast.csv", "gpx": "track.gpx",
            "final_rows": hi // step - lo // step + 1}


def write_schema(path, schema):
    with open(path, "w") as fh:
        json.dump(schema, fh)
