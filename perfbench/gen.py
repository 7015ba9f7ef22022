"""Seeded transit input generator for the graft benchmark.

transit(seed, out): one generated Transilien-style service day -- a GTFS
CSV bundle, per-station XML polling cycles, and the planted truth (the
expected delay board, the calls of every trip on the day) computed by a
brute-force restatement of the matching rules.

    python3 perfbench/gen.py SEED OUT_DIR

The same seed gives byte-identical files.
"""
import datetime as dt
import json
import os
import random

# ---------------------------------------------------------------- transit

N_STATIONS = 8
N_LINES = 8
LINE_STOPS = 5
# polling bursts (first cycle, minutes after midnight; cycles): within a
# burst the feed is polled every CYCLE_MIN minutes, closer than
# WINDOW_MIN, so a train is re-polled while its delay walks and its
# forecast (mode T) turns into an observation (mode R); the last burst
# runs past midnight
BURSTS = ((6 * 60, 5), (11 * 60, 5), (17 * 60 + 30, 5), (23 * 60 + 55, 5))
CYCLE_MIN = 3
FIRST_CYCLE_MIN = BURSTS[0][0]
WINDOW_MIN = 6         # a station's feed lists departures due in this window
R_HORIZON_MIN = 3      # calls closer than this are observed (mode R)
BASE_DAY = dt.date(2017, 5, 1)


def luhn_digit(digits):
    total = 0
    for i, ch in enumerate(reversed(digits)):
        d = int(ch)
        if i % 2 == 0:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return (10 - total % 10) % 10


def uic8(uic7):
    return uic7 + str(luhn_digit(uic7))


def hhmm(minutes):
    return "%02d:%02d" % (minutes // 60, minutes % 60)


def gtfs_time(minutes):
    return "%02d:%02d:00" % (minutes // 60, minutes % 60)


def write_csv(path, header, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(str(x) for x in r) + "\n")


def transit(seed, out):
    rnd = random.Random(seed)
    day = BASE_DAY + dt.timedelta(days=seed % 28)
    dstr, iso = day.strftime("%Y%m%d"), day.isoformat()
    dow = day.weekday()  # 0 = monday
    day_start = int(dt.datetime(day.year, day.month, day.day,
                                tzinfo=dt.timezone.utc).timestamp())

    uic7s = rnd.sample(range(10000, 99999), N_STATIONS)
    stations = [uic8("87" + "%05d" % u) for u in uic7s]

    # services: (service_id, weekday mask, start, end); exceptions on the day
    week = [1, 1, 1, 1, 1, 0, 0]
    weekend = [0, 0, 0, 0, 0, 1, 1]
    daily = [1] * 7
    far = (day - dt.timedelta(days=60)).strftime("%Y%m%d")
    after = (day + dt.timedelta(days=60)).strftime("%Y%m%d")
    expired = (day - dt.timedelta(days=1)).strftime("%Y%m%d")
    services = [
        ("S_WEEK", week, far, after), ("S_WEND", weekend, far, after),
        ("S_DAILY", daily, far, after), ("S_ADD", [0] * 7, far, after),
        ("S_RM", daily, far, after), ("S_OLD", daily, far, expired)]
    cal_dates = [("S_ADD", dstr, 1), ("S_RM", dstr, 2),
                 ("S_WEEK", (day + dt.timedelta(days=3)).strftime("%Y%m%d"), 2)]
    active = set()
    for sid, mask, start, end in services:
        if mask[dow] == 1 and start <= dstr <= end:
            active.add(sid)
    active |= {s for s, d, e in cal_dates if d == dstr and e == 1}
    active -= {s for s, d, e in cal_dates if d == dstr and e == 2}

    # lines, trips, stop calls; every 6-digit train number is unique, and
    # the ambiguous pairs share a 5-digit prefix that no other number has
    used, trips, calls = set(), [], []
    prefixes = set()

    def fresh_num():
        while True:
            n = "%06d" % rnd.randrange(100000, 899999)
            if n not in used and n[:5] not in prefixes and n[1:] not in prefixes:
                used.add(n)
                return n

    service_pool = ["S_WEEK", "S_WEND", "S_DAILY", "S_DAILY", "S_ADD",
                    "S_RM", "S_OLD"]
    ambiguous = []
    for li in range(N_LINES):
        path = rnd.sample(stations, LINE_STOPS)
        for direction in (0, 1):
            stops = path if direction == 0 else path[::-1]
            t = FIRST_CYCLE_MIN - 60 + rnd.randrange(0, 30)
            k = 0
            while t < 25 * 60 + 30:
                sid = rnd.choice(service_pool)
                if k % 9 == 4:
                    # ambiguous pair: two active trips whose numbers share a
                    # 5-digit prefix that the feed reports on its own
                    p = "%05d" % rnd.randrange(10000, 89999)
                    while any(u[:5] == p or u[1:] == p for u in used) or p in prefixes:
                        p = "%05d" % rnd.randrange(10000, 89999)
                    prefixes.add(p)
                    pair = [p + "1", p + "2"]
                    used.update(pair)
                    ambiguous.append((p, stops[0], t))
                    for j, num in enumerate(pair):
                        tid = "DUASN%sF0%d-L%d" % (num, j + 1, li)
                        trips.append((tid, "L%d" % li, "S_DAILY", stops[-1]))
                        calls.append((tid, [(s, t + j * 3 + 4 * q)
                                            for q, s in enumerate(stops)]))
                else:
                    num = fresh_num()
                    tid = "DUASN%sF0%d-L%d" % (num, direction + 1, li)
                    trips.append((tid, "L%d" % li, sid, stops[-1]))
                    calls.append((tid, [(s, t + 4 * q) for q, s in enumerate(stops)]))
                    if sid not in active and rnd.random() < 0.5:
                        # same train number on a service that runs today
                        tid2 = "DUASN%sF0%d-L%d" % (num, direction + 3, li)
                        trips.append((tid2, "L%d" % li, "S_DAILY", stops[-1]))
                        calls.append((tid2, [(s, t + 1 + 4 * q)
                                             for q, s in enumerate(stops)]))
                t += rnd.randrange(10, 25)
                k += 1

    trip_service = {t[0]: t[2] for t in trips}
    os.makedirs(out, exist_ok=True)
    gtfs = os.path.join(out, "gtfs")
    os.makedirs(gtfs, exist_ok=True)
    write_csv(os.path.join(gtfs, "stops.txt"),
              ["stop_id", "stop_name", "stop_lat", "stop_lon", "parent_station"],
              [("StopPoint:DUA" + s[:7], "Gare " + s, "48.%04d" % i,
                "2.%04d" % i, "StopArea:" + s[:7]) for i, s in enumerate(stations)])
    write_csv(os.path.join(gtfs, "trips.txt"),
              ["trip_id", "route_id", "service_id", "trip_headsign"],
              [(t, r, s, "H" + h[:7]) for t, r, s, h in trips])
    write_csv(os.path.join(gtfs, "stop_times.txt"),
              ["trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence"],
              [(tid, gtfs_time(m), gtfs_time(m), "StopPoint:DUA" + s[:7], q + 1)
               for tid, cs in calls for q, (s, m) in enumerate(cs)])
    write_csv(os.path.join(gtfs, "calendar.txt"),
              ["service_id", "monday", "tuesday", "wednesday", "thursday",
               "friday", "saturday", "sunday", "start_date", "end_date"],
              [[sid] + mask + [start, end] for sid, mask, start, end in services])
    write_csv(os.path.join(gtfs, "calendar_dates.txt"),
              ["service_id", "date", "exception_type"], cal_dates)

    # the feed: per station, trains due in the window, with a delay that
    # walks over the cycles (re-polls change or keep the expected time)
    by_station = {s: [] for s in stations}
    for tid, cs in calls:
        if trip_service[tid] in active:
            num = tid[5:11]
            for s, m in cs:
                by_station[s].append((m, num, tid, cs[-1][0]))
    delay = {}      # trip_id -> minutes
    cancelled = set()
    for tid, _ in calls:
        delay[tid] = 0
    amb_by_station = {}
    for p, s, t in ambiguous:
        amb_by_station.setdefault(s, []).append((p, t))
    cycles = []
    polls = [start + i * CYCLE_MIN for start, n in BURSTS for i in range(n)]
    for now in polls:
        for tid in delay:
            r = rnd.random()
            if r < 0.25:
                delay[tid] = max(-2, delay[tid] + rnd.choice([-1, 1, 2, 3]))
            elif r < 0.253:
                cancelled.add(tid)
        docs = {}
        for s in stations:
            trains = []
            for m, num, tid, term in sorted(by_station[s]):
                exp = m + delay[tid]
                if now <= m <= now + WINDOW_MIN and exp >= now:
                    mode = "R" if m - now <= R_HORIZON_MIN else "T"
                    etat = None
                    if tid in cancelled:
                        etat = "Supprimé"
                    elif delay[tid] > 0 and mode == "R":
                        etat = "Retardé"
                    trains.append((num, "M" + num[-3:], term, exp, mode, etat))
            for p, t in amb_by_station.get(s, []):
                if now <= t <= now + WINDOW_MIN:
                    trains.append((p, "AMBI", s, t, "R", None))
            if rnd.random() < 0.3:
                trains.append(("9%05d" % rnd.randrange(100000), "XXXX", s,
                                now + 15, "R", None))
            if trains:
                docs[s] = trains
        cycles.append((now, docs))

    xml_root = os.path.join(out, "xml")
    passages = []
    for c, (now, docs) in enumerate(cycles):
        d = os.path.join(xml_root, "c%03d" % c)
        os.makedirs(d, exist_ok=True)
        for s, trains in docs.items():
            body = []
            for num, miss, term, exp, mode, etat in trains:
                when = dt.datetime(day.year, day.month, day.day) + dt.timedelta(minutes=exp)
                body.append('<train><date mode="%s">%s</date><num>%s</num>'
                            '<miss>%s</miss><term>%s</term>%s</train>' % (
                                mode, when.strftime("%d/%m/%Y %H:%M"), num, miss, term,
                                "<etat>%s</etat>" % etat if etat else ""))
                passages.append(dict(station_id=s, num=num, miss=miss, term=term,
                                     exp=day_start + exp * 60, mode=mode, etat=etat,
                                     request_time=hhmm(now)))
            with open(os.path.join(d, s + ".xml"), "w", encoding="utf-8") as f:
                f.write('<?xml version="1.0" encoding="UTF-8"?><passages gare="%s">%s'
                        '</passages>' % (s, "".join(body)))

    # planted truth: brute-force restatement of the match / delay / latest
    # rules over the generated feed
    sched = {}  # uic7 -> [(trip_id, stop_sequence, departure_secs)]
    for tid, cs in calls:
        if trip_service[tid] in active:
            for q, (s, m) in enumerate(cs):
                sched.setdefault(s[:7], []).append((tid, q + 1, m * 60))
    board, matched = {}, 0
    for p in passages:
        cands = [c for c in sched.get(p["station_id"][:7], []) if p["num"] in c[0]]
        if len({c[0] for c in cands}) != 1:
            continue
        matched += 1
        tid, _, dep = min(cands, key=lambda c: (c[1], c[2]))
        if p["mode"] != "R":
            continue
        key = (p["station_id"], dstr + "_" + p["num"])
        row = dict(station_id=p["station_id"], day_train_num=key[1], num=p["num"],
                   trip_id=tid, expected_ts=p["exp"], scheduled_ts=day_start + dep,
                   delay_sec=p["exp"] - day_start - dep,
                   cancelled=p["etat"] == "Supprimé", request_time=p["request_time"])
        if key not in board or board[key]["request_time"] < row["request_time"]:
            board[key] = row
    trip_calls = {}
    for tid, cs in calls:
        if trip_service[tid] in active:
            trip_calls[tid] = [[q + 1, "StopPoint:DUA" + s[:7], gtfs_time(m),
                                day_start + m * 60] for q, (s, m) in enumerate(cs)]
    n_calls = sum(len(cs) for _, cs in calls)
    truth = dict(
        day=dstr, iso_day=iso, day_start=day_start,
        cycles=[hhmm(now) for now, _ in cycles],
        burst=BURSTS[0][1],
        stations=stations, trip_ids=sorted(t[0] for t in trips),
        trip_calls=trip_calls,
        board=sorted(board.values(), key=lambda r: (r["station_id"], r["day_train_num"])),
        counts=dict(passages=len(passages), matched=matched, stop_calls=n_calls,
                    stations=len(stations), trips=len(trips), cycles=len(cycles),
                    board_rows=len(board)))
    with open(os.path.join(out, "truth.json"), "w", encoding="utf-8") as f:
        json.dump(truth, f, sort_keys=True)
    # the same feed as rows, for the streaming replay
    with open(os.path.join(out, "passages.json"), "w", encoding="utf-8") as f:
        json.dump(passages, f, sort_keys=True)
    return truth["counts"]


if __name__ == "__main__":
    import sys
    print(json.dumps(transit(int(sys.argv[1]), sys.argv[2])))
