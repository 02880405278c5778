#!/usr/bin/env python3
"""Seeded generator of per-match player documents for the codstats workloads.

Usage: python3 perfbench/gen_matches.py <out_dir> --seed N

Writes, under <out_dir>:
  players.jsonl    the players dimension, one object per logical player:
                   {"name", "isCore", "accounts": [{"unoId"}]}
  corpus/          the backfill corpus, one document per file,
                   match_{matchId}_{unoId}.json
  ticks/NNN/       the documents one cron tick lands: new games plus one
                   re-delivery per ten of them (at least one) of an
                   already-landed valid document under a new file name
                   (match_{matchId}_{unoId}.tK.json)
  expected.json    distinct valid (game_id, player_uno_id) rows: in the
                   corpus, per tick, and cumulative after each tick

The shape follows what the codstats layers branch on: squads of 1-4
tracked players sharing a matchID (plus untracked squad-mates), a
core/non-core player mix, gaps on both sides of the 2 h session cut,
tracked / untracked / stimulus / unknown modes, about 5% documents the
quality filters drop, and games on both sides of the s1/s2 boundary
(2020-06-01). The same seed gives byte-identical files.
"""
import argparse
import json
import os
import random

CORPUS_DOCS = 60   # the backfill corpus (NOTES.md: sizes)
TICKS = 3          # the most a run lands: a warm-up, a traced and an untraced tick
TICK_DOCS = 1      # new documents per tick, besides one re-delivery
S1_S2 = 1590969600          # 2020-06-01T00:00:00Z
START = S1_S2 - 6 * 3600    # the corpus spans the season boundary

# tracked modes and the squad size of their category
TRACKED = [("br_brsolo", 1), ("br_brduos", 2), ("br_brtrios", 3),
           ("br_brquads", 4)]
UNTRACKED = "br_dmz_plunder"   # in the dimension, wz_track_stats = false
STIMULUS = "br_mini_rebirth"   # in the dimension, is_stimulus = true
UNKNOWN = "br_kingslayer"      # not in the dimension
STATS = ["score", "scorePerMinute", "kills", "deaths", "damageDone",
         "damageTaken", "gulagKills", "gulagDeaths", "teamPlacement",
         "kdRatio", "distanceTraveled", "headshots", "objectiveBrCacheOpen",
         "objectiveReviver", "objectiveBrDownEnemyCircle1",
         "objectiveBrDownEnemyCircle2", "objectiveBrDownEnemyCircle3",
         "objectiveDestroyedVehicleLight"]


def players():
    """12 logical players, 8 core; a third merge two platform accounts."""
    out = []
    for i in range(12):
        accts = [f"uno{i:02d}a"] + ([f"uno{i:02d}b"] if i % 3 == 0 else [])
        out.append({"name": f"Player{i:02d}", "isCore": i < 8,
                    "accounts": [{"unoId": a} for a in accts]})
    return out


class Timeline:
    """Sessions of consecutive games, one squad per session."""

    def __init__(self, rng, roster, t0):
        self.rng, self.roster, self.t = rng, roster, t0
        self.match_no = 0

    def game(self, squad, first):
        rng = self.rng
        if not first:
            # within a session: short gaps, some just under the 2 h cut
            self.t += rng.choice([rng.randint(300, 2400),
                                  rng.randint(6600, 7100)])
        start = self.t
        self.t = end = start + rng.randint(900, 1800)
        self.match_no += 1
        match_id = str(10**15 + self.match_no * 7919)
        r = rng.random()
        if r < 0.70:
            mode, size = TRACKED[len(squad) - 1]
        else:
            mode = UNTRACKED if r < 0.80 else STIMULUS if r < 0.90 else UNKNOWN
            size = len(squad)
        game_type = "mp" if rng.random() < 0.03 else "wz"
        placement = rng.randint(1, 150 // max(size, 1))
        members = list(squad)
        if size > len(members) or rng.random() < 0.25:
            members.append(f"ext{rng.randint(0, 39):02d}")  # untracked mate
        docs = []
        for uno in members:
            docs.append(doc(rng, match_id, uno, start, end, game_type, mode,
                            placement))
        return docs

    def docs(self):
        """Endless document stream, session after session."""
        rng = self.rng
        while True:
            # distinct logical players, each on one of their accounts
            squad = [rng.choice(accts) for accts in
                     rng.sample(self.roster, rng.randint(1, 4))]
            for g in range(rng.randint(2, 6)):
                yield from self.game(squad, g == 0)
            # between sessions: just over the 2 h cut, or a few hours
            self.t += rng.choice([rng.randint(7300, 7900),
                                  rng.randint(3 * 3600, 9 * 3600)])


def doc(rng, match_id, uno, start, end, game_type, mode, placement):
    kills = rng.randint(0, 14)
    deaths = rng.randint(1, 6)
    stats = {
        "score": rng.randint(200, 9000),
        "scorePerMinute": round(rng.uniform(50, 600), 3),
        "kills": kills, "deaths": deaths,
        "damageDone": rng.randint(0, 6000),
        "damageTaken": rng.randint(50, 4000),
        "gulagKills": rng.choice([0, 0, 1, 2]),
        "gulagDeaths": rng.choice([0, 1, 1, 2]),
        "teamPlacement": placement,
        "kdRatio": round(kills / deaths, 4),
        "distanceTraveled": round(rng.uniform(1000, 400000), 2),
        "headshots": rng.randint(0, kills),
        "objectiveBrCacheOpen": rng.randint(0, 30),
        "objectiveReviver": rng.randint(0, 3),
        "objectiveBrDownEnemyCircle1": rng.randint(0, 3),
        "objectiveBrDownEnemyCircle2": rng.randint(0, 2),
        "objectiveBrDownEnemyCircle3": rng.randint(0, 2),
        "objectiveDestroyedVehicleLight": rng.randint(0, 1),
    }
    d = {"matchID": match_id, "utcStartSeconds": start, "utcEndSeconds": end,
         "gameType": game_type, "mode": mode, "playerCount": 150,
         "teamCount": 150 // 4, "player": {"uno": uno},
         "playerStats": {k: stats[k] for k in STATS}}
    # ~5% of documents carry a defect the quality filters drop
    r = rng.random()
    if r < 0.015:
        del d["playerStats"]["damageDone"]
    elif r < 0.03:
        d["playerStats"]["deaths"] = 0
        d["playerStats"]["damageTaken"] = 0
    elif r < 0.04:
        del d["playerStats"]["teamPlacement"]
    elif r < 0.05:
        d["playerCount"] = 0
    return d


def valid(d):
    """Normalize.validGames' quality filters, for the expected counts."""
    s = d["playerStats"]
    return ("damageDone" in s and "damageTaken" in s
            and not (s.get("deaths", 0) == 0 and s.get("damageTaken", 0) == 0)
            and d["gameType"] in ("mp", "wz") and d["playerCount"] > 0
            and d["teamCount"] > 0 and s.get("teamPlacement", -1) > 0)


def write(dirname, name, d):
    with open(os.path.join(dirname, name), "w") as f:
        f.write(json.dumps(d, separators=(",", ":")))


def land(stream, n_docs):
    return [next(stream) for _ in range(n_docs)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    rng = random.Random(a.seed)
    ps = players()
    roster = [[acct["unoId"] for acct in p["accounts"]] for p in ps]
    os.makedirs(a.out, exist_ok=True)
    with open(os.path.join(a.out, "players.jsonl"), "w") as f:
        for p in ps:
            f.write(json.dumps(p, separators=(",", ":")) + "\n")

    def fresh_dir(*parts):
        d = os.path.join(a.out, *parts)
        os.makedirs(d, exist_ok=True)
        return d

    stream = Timeline(rng, roster, START).docs()
    cdir = fresh_dir("corpus")
    landed = []
    for d in land(stream, CORPUS_DOCS):
        write(cdir, f"match_{d['matchID']}_{d['player']['uno']}.json", d)
        landed.append(d)
    expected = {"corpus": sum(map(valid, landed)), "per_tick": [],
                "cumulative": []}
    total = expected["corpus"]
    for k in range(TICKS):
        tdir = fresh_dir("ticks", f"{k:03d}")
        new = land(stream, TICK_DOCS)
        for d in new:
            write(tdir, f"match_{d['matchID']}_{d['player']['uno']}.json", d)
        # re-deliveries: already-landed valid documents, new file names
        pool = [d for d in landed if valid(d)]
        for d in rng.sample(pool, max(1, len(new) // 10)):
            write(tdir, f"match_{d['matchID']}_{d['player']['uno']}.t{k}.json",
                  d)
        landed += new
        n = sum(map(valid, new))
        total += n
        expected["per_tick"].append(n)
        expected["cumulative"].append(total)
    with open(os.path.join(a.out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
