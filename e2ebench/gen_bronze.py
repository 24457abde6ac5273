#!/usr/bin/env python3
"""Seeded generator of the NBA bronze inputs of the medallion pipeline, in
the reference shapes (FIXTURES.md): uppercase API keys, `games.json` on a
single line, the six other files as pretty-printed JSON arrays.

The league has 30 teams including SAS. Every team plays GAMES games in
each of SEASONS seasons (the latest spelled "2024", which the gold models
normalise to "2024-25"), and every roster player has a stat line in every
game of the player's team. SAS is the weakest team, so each season's seven
team metrics compare clearly against the league.

Alongside the bronze files it writes `expected_counts.properties`: the row
count of each of the six gold tables, derived here from the generated
rows by the rules of the gold models.

Usage: python3 gen_bronze.py <out_dir> --seed N
"""
import argparse
import json
import os
from fractions import Fraction

import numpy as np

SEASONS = 2
GAMES = 30          # games per team and season
ROSTER = 10         # players per team

TEAMS = [
    ("ATL", "Atlanta Hawks"), ("BOS", "Boston Celtics"), ("CLE", "Cleveland Cavaliers"),
    ("NOP", "New Orleans Pelicans"), ("CHI", "Chicago Bulls"), ("DAL", "Dallas Mavericks"),
    ("DEN", "Denver Nuggets"), ("GSW", "Golden State Warriors"), ("HOU", "Houston Rockets"),
    ("LAC", "LA Clippers"), ("LAL", "Los Angeles Lakers"), ("MIA", "Miami Heat"),
    ("MIL", "Milwaukee Bucks"), ("MIN", "Minnesota Timberwolves"), ("BKN", "Brooklyn Nets"),
    ("NYK", "New York Knicks"), ("ORL", "Orlando Magic"), ("IND", "Indiana Pacers"),
    ("PHI", "Philadelphia 76ers"), ("PHX", "Phoenix Suns"), ("POR", "Portland Trail Blazers"),
    ("SAC", "Sacramento Kings"), ("SAS", "San Antonio Spurs"), ("OKC", "Oklahoma City Thunder"),
    ("TOR", "Toronto Raptors"), ("UTA", "Utah Jazz"), ("MEM", "Memphis Grizzlies"),
    ("WAS", "Washington Wizards"), ("DET", "Detroit Pistons"), ("CHA", "Charlotte Hornets"),
]
POSITIONS = ["G", "F", "C", "G-F", "F-C"]
LESIONS = [
    "Esguince de tobillo", "Rotura fibrilar", "Tendinitis rotuliana", "Fascitis plantar",
    "Lumbalgia", "Contusión ósea", "Fractura de dedo", "Distensión de isquiotibiales",
    "Conmoción cerebral", "Luxación de hombro",
]

# Gold metric order, with "lower is better" (team_weaknesses_unpivoted).
METRICS = [("fg_pct", False), ("fg3_pct", False), ("tov", True), ("reb", False),
           ("stl", False), ("blk", False), ("plus_minus", False)]
# players_recommendations branches: metric, ascending rank, positions.
BRANCHES = [("fg_pct", False, {"G", "F"}), ("fg3_pct", False, {"G", "G-F", "F"}),
            ("reb", False, {"F", "F-C", "C"}), ("tov", True, {"G"}),
            ("stl", False, {"G", "F"}), ("blk", False, {"F-C", "C"}),
            ("plus_minus", False, None)]


def season_names():
    first = 2024 - SEASONS + 1
    return [f"{y}-{str(y + 1)[2:]}" for y in range(first, 2024)] + ["2024"]


def stat_line(rng, q, scale):
    """fg_pct, fg3_pct, tov, reb, stl, blk for quality q; counting stats
    scale with the share of team minutes."""
    return {
        "FG_PCT": round(float(np.clip(0.46 + 0.03 * q + rng.normal(0, 0.03), 0.25, 0.7)), 3),
        "FG3_PCT": round(float(np.clip(0.36 + 0.03 * q + rng.normal(0, 0.04), 0.15, 0.6)), 3),
        "TOV": max(0, int(round((14 - 2 * q) * scale + rng.normal(0, 2 * scale)))),
        "REB": max(0, int(round((44 + 3 * q) * scale + rng.normal(0, 4 * scale)))),
        "STL": max(0, int(round((8 + 1.5 * q) * scale + rng.normal(0, 1.5 * scale)))),
        "BLK": max(0, int(round((5 + 1.5 * q) * scale + rng.normal(0, 1.5 * scale)))),
    }


def generate(out, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    ids = {abbr: 1610612737 + i for i, (abbr, _) in enumerate(TEAMS)}
    names = dict(TEAMS)
    quality = {abbr: float(rng.uniform(-0.5, 1.0)) for abbr, _ in TEAMS}
    quality["SAS"] = -1.0
    teams = [{"id": ids[a], "full_name": n, "abbreviation": a, "nickname": n.split()[-1],
              "city": " ".join(n.split()[:-1]), "state": "NA", "year_founded": 1946 + i}
             for i, (a, n) in enumerate(TEAMS)]

    roster = {}
    pid = 1_600_000
    for abbr, _ in TEAMS:
        roster[abbr] = []
        for _ in range(ROSTER):
            pid += int(rng.integers(1, 40))
            roster[abbr].append((pid, f"Player {pid}", POSITIONS[int(rng.integers(0, 5))]))

    games, stats, players, salaries = [], [], [], []
    for si, season in enumerate(season_names()):
        year = 2024 - SEASONS + 1 + si
        for abbr, _ in TEAMS:
            for num, (p, name, pos) in enumerate(roster[abbr]):
                players.append({"TeamID": ids[abbr], "SEASON": year, "PLAYER": name,
                                "NUM": str(num), "POSITION": pos, "HEIGHT": "6-7",
                                "WEIGHT": "210", "AGE": float(20 + p % 15),
                                "EXP": str(si), "PLAYER_ID": p})
                salaries.append({"player_id": p, "player_name": name, "season": year,
                                 "salary_usd": round(float(rng.uniform(5e5, 4.5e7)), 2)})
        for r in range(GAMES):
            order = [TEAMS[i][0] for i in rng.permutation(len(TEAMS))]
            date = str(np.datetime64(f"{year}-10-20") + r) + "T00:00:00"
            for k in range(0, len(order), 2):
                home, away = order[k], order[k + 1]
                gid = f"002{si:02d}{r:03d}{k // 2:02d}"
                diff = int(round(6 * (quality[home] - quality[away]) + rng.normal(2, 11))) or 1
                home_pts = int(rng.integers(95, 125))
                for abbr, opp, pts, pm, at_home in ((home, away, home_pts, diff, True),
                                                    (away, home, home_pts - diff, -diff, False)):
                    matchup = f"{abbr} vs. {opp}" if at_home else f"{abbr} @ {opp}"
                    wl = "W" if pm > 0 else "L"
                    games.append({"SEASON_YEAR": season, "TEAM_ID": ids[abbr],
                                  "TEAM_ABBREVIATION": abbr, "TEAM_NAME": names[abbr],
                                  "GAME_ID": gid, "GAME_DATE": date, "MATCHUP": matchup,
                                  "WL": wl, "PTS": pts,
                                  **stat_line(rng, quality[abbr], 1.0),
                                  "PLUS_MINUS": float(pm)})
                    for p, name, _ in roster[abbr]:
                        line = stat_line(rng, quality[abbr], 1.0 / ROSTER * 2)
                        stats.append({"SEASON_YEAR": season if season != "2024" else "2024-25",
                                      "PLAYER_ID": p, "PLAYER_NAME": name,
                                      "TEAM_ID": ids[abbr], "TEAM_ABBREVIATION": abbr,
                                      "GAME_ID": gid, "GAME_DATE": date, "MATCHUP": matchup,
                                      "WL": wl, "FG_PCT": line["FG_PCT"],
                                      "FG3_PCT": line["FG3_PCT"], "REB": line["REB"],
                                      "TOV": line["TOV"], "STL": line["STL"],
                                      "BLK": line["BLK"],
                                      "PLUS_MINUS": float(pm + int(rng.integers(-8, 9)))})

    everyone = [pl for abbr, _ in TEAMS for pl in roster[abbr]]
    picks = rng.permutation(len(everyone))
    free_agents = [{"player_id": everyone[i][0], "player_name": everyone[i][1],
                    "position": everyone[i][2], "age": int(rng.integers(19, 39)),
                    "age_experience": int(rng.integers(1, 16)), "avalaiblefrom": "2024-07-01"}
                   for i in sorted(picks[: len(everyone) // 5])]
    injuries = [{"player_id": everyone[i][0], "player_name": everyone[i][1],
                 "lesion": LESIONS[int(rng.integers(0, len(LESIONS)))],
                 "date": str(np.datetime64("2023-10-01") + int(rng.integers(0, 240)))}
                for i in sorted(picks[-len(everyone) // 4:])
                for _ in range(int(rng.integers(1, 3)))]

    def dump(name, rows, pretty=True):
        with open(os.path.join(out, f"{name}.json"), "w", encoding="utf-8") as f:
            json.dump(rows, f, indent=4 if pretty else None, ensure_ascii=False)

    dump("teams", teams)
    dump("players", players)
    dump("games", games, pretty=False)
    dump("player_stats_by_game", stats)
    dump("salaries", salaries)
    dump("free_agents", free_agents)
    dump("injuries", injuries)
    counts = expected_counts(games, stats, everyone)
    with open(os.path.join(out, "expected_counts.properties"), "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in sorted(counts.items()))


def mean(xs):
    return sum(Fraction(str(x)) for x in xs) / len(xs)


def expected_counts(games, stats, everyone):
    """Gold row counts by the rules of the six gold models."""
    norm = {s: ("2024-25" if s == "2024" else s) for s in {g["SEASON_YEAR"] for g in games}}
    seasons = sorted(set(norm.values()))
    weak = {}
    for s in seasons:
        rows = [g for g in games if norm[g["SEASON_YEAR"]] == s]
        spurs = [g for g in rows if g["TEAM_ABBREVIATION"] == "SAS"]
        weak[s] = []
        for m, lower in METRICS:
            team, league = mean([g[m.upper()] for g in spurs]), mean([g[m.upper()] for g in rows])
            # SAS is built to sit far from the league mean; a near-tie would
            # make the Debilidad label depend on decimal rounding.
            assert abs(team - league) > Fraction(1, 10**6), (s, m)
            if (team > league) if lower else (team < league):
                weak[s].append(m)
    per_player = {}
    for r in stats:
        per_player.setdefault(r["PLAYER_ID"], []).append(r)
    position = {p: pos for p, _, pos in everyone}
    targets = {}
    for m, asc, allowed in BRANCHES:
        avg = {p: mean([r[m.upper()] for r in rs]) for p, rs in per_player.items()}
        top = sorted(avg, key=lambda p: (avg[p] if asc else -avg[p], p))[:5]
        targets[m] = sum(1 for p in top if allowed is None or position[p] in allowed)
    spurs_players = {r["PLAYER_ID"] for r in stats if r["TEAM_ABBREVIATION"] == "SAS"}
    team_seasons = {(norm[g["SEASON_YEAR"]], g["TEAM_NAME"]) for g in games}
    locations = {(norm[g["SEASON_YEAR"]], g["TEAM_NAME"], "@" in g["MATCHUP"]) for g in games}
    return {
        "summary_by_season": len(team_seasons),
        "home_vs_away": len(locations),
        "team_weaknesses_unpivoted": len(seasons) * len(METRICS),
        "spurs_player_contributions_unpivoted": len(spurs_players) * len(METRICS),
        "streaks_and_rivals": 1,
        "players_recommendations": sum(targets[m] for s in seasons for m in weak[s]),
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    generate(a.out, a.seed)
