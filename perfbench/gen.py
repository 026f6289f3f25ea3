"""Input generators for the benchmark.

Two families of inputs, both written as parquet with pyarrow:

* ``relational`` -- the registry's ten tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) with the column types,
  value domains and key relations of the synthetic test tables the engine
  is verified on. They are generated from one fixed seed, so the stored
  expectations in ``expected.json`` hold for every run; the benchmark seed
  only reorders the queries.
* ``tracking`` -- a Big Data Bowl 2025 style data model (games, plays,
  players, player_play, tracking) generated from the benchmark seed. It is
  a scaled, seeded version of the engine's BdbMini fixture and keeps its
  content invariants: 11 defenders per AFTER_SNAP frame and one football
  row per frame; events line_set -> ball_snap -> pass_forward ->
  pass_arrived with at least 8 frames after pass_forward; per block of six
  plays four TRADITIONAL dropbacks, one DESIGNED_ROLLOUT_LEFT and one run;
  the null matchup id / coverage assignment / motion cases; a mirrored
  route-tree pair per block; a correct read on the first play of every
  block (``QBMetrics.press`` divides by the mean read rate).
"""
import hashlib
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RELATIONAL_SEED = 42
# Scale factor of the relational tables. Registry queries at this size
# spend most of their time in per-query fixed cost (load, planning, job
# launch), which is what the relational workload measures.
RELATIONAL_SF = 0.01


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def file_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


WORDS = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()


def relational(out_dir):
    """Write the ten registry tables; returns the list of files."""
    sf = RELATIONAL_SF
    rng = np.random.Generator(np.random.PCG64(RELATIONAL_SEED))
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), max(500, int(20000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array("blue cold hot red small new old large".split())
    noun = np.array("ring plate gear rod bolt anvil widget gizmo".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n_ord), pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_li), pa.timestamp("us"))})
    secs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + secs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    files = []
    for name, table in t.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        _write(table, p)
        files.append(p)
    return files


# ---------------------------------------------------------------- tracking

ROUTES = ["GO", "OUT", "SLANT", "CROSS", "HITCH"]
TEAMS = ["PHI", "DAL", "KC", "LAC", "BUF", "NYJ", "SF", "SEA"]
COVERAGES = ["Cover-3", "Cover-1", "Cover-2"]
ASSIGNMENTS = ["MAN", "HOL", "CFL", "CFR", "3L", "3M", "3R", "2L", "2R", "4IL", "4IR"]

PLAYS_SCHEMA = pa.schema([
    ("gameId", pa.int64()), ("playId", pa.int32()),
    ("possessionTeam", pa.string()), ("defensiveTeam", pa.string()),
    ("isDropback", pa.bool_()), ("dropbackType", pa.string()),
    ("dropbackDistance", pa.float64()), ("unblockedPressure", pa.bool_()),
    ("timeToThrow", pa.float64()), ("absoluteYardlineNumber", pa.int32()),
    ("pff_passCoverage", pa.string()), ("down", pa.int32()), ("yardsToGo", pa.int32()),
    ("preSnapHomeScore", pa.int32()), ("preSnapVisitorScore", pa.int32()),
    ("gameClock", pa.string())])
PLAYERS_SCHEMA = pa.schema([
    ("nflId", pa.int64()), ("displayName", pa.string()), ("position", pa.string())])
GAMES_SCHEMA = pa.schema([
    ("gameId", pa.int64()), ("homeTeamAbbr", pa.string()), ("visitorTeamAbbr", pa.string())])
PLAYER_PLAY_SCHEMA = pa.schema([
    ("gameId", pa.int64()), ("playId", pa.int32()), ("nflId", pa.int64()),
    ("teamAbbr", pa.string()), ("wasRunningRoute", pa.bool_()), ("routeRan", pa.string()),
    ("wasTargettedReceiver", pa.bool_()), ("motionSinceLineset", pa.bool_()),
    ("pff_primaryDefensiveCoverageMatchupNflId", pa.int64()),
    ("pff_defensiveCoverageAssignment", pa.string())])
TRACKING_SCHEMA = pa.schema([
    ("gameId", pa.int64()), ("playId", pa.int32()), ("nflId", pa.int64()),
    ("displayName", pa.string()), ("frameId", pa.int32()), ("frameType", pa.string()),
    ("time", pa.string()), ("jerseyNumber", pa.int32()), ("club", pa.string()),
    ("playDirection", pa.string()),
    ("x", pa.float64()), ("y", pa.float64()), ("s", pa.float64()), ("a", pa.float64()),
    ("dis", pa.float64()), ("o", pa.float64()), ("dir", pa.float64()),
    ("event", pa.string())])

SNAP_FRAME = 11


def _team_ids(team):
    base = 1000 * (TEAMS.index(team) + 1)
    return {"qb": base + 1,
            "rr": [base + 10 + i for i in range(5)],
            "ol": [base + 30 + i for i in range(6)],
            "def": [base + 50 + i for i in range(11)]}


def tracking_tables(seed, games, blocks):
    """The five BDB tables as pyarrow tables: ``games`` games, each with
    ``blocks`` blocks of six plays."""
    rng = random.Random(seed)
    players = []
    for team in TEAMS:
        ids = _team_ids(team)
        players.append((ids["qb"], f"{team} QB", "QB"))
        players += [(pid, f"{team} WR {i}", "TE" if i % 3 == 2 else "WR")
                    for i, pid in enumerate(ids["rr"])]
        players += [(pid, f"{team} OL {i}", "G") for i, pid in enumerate(ids["ol"])]
        players += [(pid, f"{team} DEF {i}", "CB" if i % 2 == 0 else "S")
                    for i, pid in enumerate(ids["def"])]
    game_rows, play_rows, pp_rows, tr_rows = [], [], [], []
    for g in range(games):
        gid = 2022090800 + 100 * g
        off, dfn = TEAMS[(2 * g) % len(TEAMS)], TEAMS[(2 * g + 1) % len(TEAMS)]
        game_rows.append((gid, off, dfn))
        oid, did = _team_ids(off), _team_ids(dfn)
        for b in range(blocks):
            perm = ROUTES[:]
            rng.shuffle(perm)
            for p in range(6):
                play_id = (6 * b + p + 1) * 100
                pf = rng.randint(22, 28)               # pass_forward frame
                n_frames = pf + rng.randint(9, 15)     # >= 8 frames after it
                is_db, db_type = {4: (True, "DESIGNED_ROLLOUT_LEFT"),
                                  5: (False, "DESIGNED_RUN")}.get(p, (True, "TRADITIONAL"))
                # play 0's QB reaches the dropback depth on every seed: 20 or more
                # AFTER_SNAP frames at >= 1.1 yd/s cover 2.2 yards
                play_rows.append((
                    gid, play_id, off, dfn, is_db, db_type,
                    round(2.0 + 0.5 * p + rng.uniform(0.0, 1.0 if p else 0.2), 2), False,
                    round((pf - SNAP_FRAME) / 10.0, 1),
                    15 if p == 1 else 45 + p + rng.randint(0, 10),
                    COVERAGES[(p + b + g) % len(COVERAGES)],
                    1 + p % 4, rng.randint(1, 15), 7 * (g % 4), 3 * p,
                    f"{14 - p % 15:02d}:{rng.randint(0, 59):02d}"))
                # play 4 of every block runs the mirror of play 0's tree
                routes = (perm if p == 0 else perm[::-1] if p == 4
                          else [perm[(i + p) % 5] for i in range(5)])
                target = rng.randint(0, 4)
                if p == 0:
                    # Play 0 is thrown to the receiver the read order
                    # expects at the throw, so every passer has a correct
                    # read, as every passer in real data does. The read
                    # nearest the throw is the third when timeToThrow is
                    # at most 1.2 s (receiver 2), else the fourth:
                    # receiver 1 when the target lines up right of
                    # centre, receiver 3 when left.
                    target = 2 if pf - SNAP_FRAME <= 12 else (1 if target < 3 else 3)
                for i, pid in enumerate(oid["rr"]):
                    pp_rows.append((
                        gid, play_id, pid, off, True, routes[i], i == target,
                        None if i == 4 else i == 0,
                        None if i == 3 else did["def"][i],
                        None if i == 2 else "MAN"))
                pp_rows.append((gid, play_id, oid["qb"], off, False, None, False,
                                False, None, None))
                for i, pid in enumerate(did["def"]):
                    pp_rows.append((gid, play_id, pid, dfn, False, None, False, None,
                                    None, ASSIGNMENTS[i]))
                jit = [rng.uniform(-0.4, 0.4) for _ in range(40)]
                x0 = 35.0 + 2 * p + rng.uniform(0.0, 10.0)
                for frame in range(1, n_frames + 1):
                    ftype = ("BEFORE_SNAP" if frame < SNAP_FRAME else
                             "SNAP" if frame == SNAP_FRAME else "AFTER_SNAP")
                    event = {3: "line_set", SNAP_FRAME: "ball_snap", pf: "pass_forward",
                             pf + 6: "pass_arrived"}.get(frame)
                    frac = (f".{frame % 10}" if frame % 3 == 0 else
                            f".{frame * 7 % 1000:03d}" if frame % 3 == 1 else
                            f".{frame * 31 % 1000000:06d}")
                    time = f"2022-09-08 20:{10 + p:02d}:{frame % 60:02d}{frac}"
                    t = (frame - 1) * 0.1

                    def mk(nid, name, club, jersey, xs, ys, vx, vy):
                        speed = math.hypot(vx, vy)
                        tr_rows.append((
                            gid, play_id, nid, name, frame, ftype, time, jersey, club,
                            "right",
                            max(0.0, min(120.0, xs + vx * t)),
                            max(0.0, min(53.3, ys + vy * t)),
                            speed, 0.2, speed * 0.1, 90.0,
                            math.degrees(math.atan2(vy, vx)), event))

                    mk(oid["qb"], f"{off} QB", off, 9, x0, 26.65, -1.5 + jit[0], 0.0)
                    mk(None, "football", "football", None, x0, 26.65,
                       8.0 + jit[1] if frame >= pf else -1.5, 0.0)
                    for i, pid in enumerate(oid["rr"]):
                        mk(pid, f"{off} WR {i}", off, 80 + i, x0 + 2.0, 8.0 + 9.0 * i,
                           4.0 + 0.3 * i + jit[2 + i], (i - 2) * 0.5 + jit[7 + i])
                    for i, pid in enumerate(oid["ol"]):
                        mk(pid, f"{off} OL {i}", off, 60 + i, x0 + 1.0, 20.0 + 2.0 * i,
                           0.1, 0.0)
                    for i, pid in enumerate(did["def"]):
                        mk(pid, f"{dfn} DEF {i}", dfn, 20 + i, x0 + 10.0, 4.0 + 4.5 * i,
                           -2.0 + jit[12 + i], 0.2 * (i - 5) + jit[23 + i])

    def table(rows, schema):
        cols = list(zip(*rows))
        return pa.table([pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema)

    return {
        "games": table(game_rows, GAMES_SCHEMA),
        "plays": table(play_rows, PLAYS_SCHEMA),
        "players": table(players, PLAYERS_SCHEMA),
        "player_play": table(pp_rows, PLAYER_PLAY_SCHEMA),
        "tracking": table(tr_rows, TRACKING_SCHEMA),
    }


def table_digest(tables):
    """Content hash of a dict of pyarrow tables, independent of file encoding."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def tracking(out_dir, seed, games, blocks):
    """Write the BDB tables (one parquet file each); returns (files,
    content digest, rows of tracking)."""
    tables = tracking_tables(seed, games, blocks)
    os.makedirs(out_dir, exist_ok=True)
    files = []
    for name, tbl in tables.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        _write(tbl, p)
        files.append(p)
    return files, table_digest(tables), tables["tracking"].num_rows
