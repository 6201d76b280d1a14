"""Seeded Cricsheet-shaped JSON corpus for the etl-ingest workload, and the
results the ETL must produce on it.

The corpus mixes v1.1.0 files (dict `runs`, `wickets` arrays, `batter`,
`innings`) with v1.0.0 files (scalar `runs`, a single `wicket` dict,
`striker`, `number`), as `graft.etl.CricketDemo` does. Ball numbers are
unique within an over, so the FACED edge key is unique and the edge
dedup keeps every delivery; the analytics are then reproducible here
with plain counting. `base/` is the full load; `delta/` re-issues some
match ids with a changed `match_type` and adds new matches.
"""
import json
import random
from collections import Counter, defaultdict
from pathlib import Path

TEAMS = [f"Team{i:02d}" for i in range(10)]
TYPES = ["T20", "IT20"]


def players(team):
    return [f"{team} p{i:02d}" for i in range(1, 12)]


def bowlers(team):
    return players(team)[6:]


def make_match(rng, mid, match_type, v10):
    home, away = rng.sample(TEAMS, 2)
    dels = []  # (batting team, batter, bowler, runs_batter, extras, out)

    def innings(no, bat, bowl):
        bats, bowls = players(bat), bowlers(bowl)
        overs = []
        for ov in range(20):
            bowler = rng.choice(bowls)
            balls = []
            for ball in range(1, 7):
                bi = rng.randrange(len(bats))
                batter, non_striker = bats[bi], bats[(bi + 1) % len(bats)]
                runs_b = rng.choice((0, 0, 1, 1, 1, 2, 4, 6))
                extras = 1 if (not v10 and rng.randrange(10) == 0) else 0
                out = rng.randrange(15) == 0
                dels.append((bat, batter, bowler, runs_b, extras, out))
                if v10:
                    d = {"striker": batter, "nonStriker": non_striker,
                         "bowler": bowler, "ball": ball, "runs": runs_b}
                    if out:
                        d["wicket"] = {"kind": "caught", "player_out": batter}
                else:
                    d = {"batter": batter, "non_striker": non_striker,
                         "bowler": bowler, "ball": ball,
                         "runs": {"batter": runs_b, "extras": extras,
                                  "total": runs_b + extras},
                         "wickets": ([{"kind": "bowled", "player_out": batter}]
                                     if out else [])}
                balls.append(d)
            overs.append({"over": ov, "deliveries": balls})
        key = "number" if v10 else "innings"
        return {key: no, "team": bat, "overs": overs}

    info = {"dates": [f"2024-{1 + rng.randrange(12):02d}-{1 + rng.randrange(28):02d}"],
            "match_type": match_type, "gender": "male", "teams": [home, away],
            "city": f"City{TEAMS.index(home)}", "venue": f"Ground{TEAMS.index(home)}",
            "outcome": {"winner": rng.choice((home, away)),
                        "by": ({"runs": 1 + rng.randrange(60)} if rng.randrange(2)
                               else {"wickets": 1 + rng.randrange(9)})}}
    if v10:
        info["registry"] = {"match": mid}
    else:
        info["match_id"] = mid
    doc = {"meta": {"data_version": "1.0.0" if v10 else "1.1.0"}, "info": info,
           "innings": [innings(1, home, away), innings(2, away, home)]}
    return doc, dels


def generate(out_dir, seed, n_matches):
    """Write base/ and delta/ under out_dir; return (params, expected)."""
    rng = random.Random(seed)
    out = Path(out_dir)
    (out / "base").mkdir(parents=True)
    (out / "delta").mkdir(parents=True)
    types, dels = {}, []
    for i in range(n_matches):
        mid = f"pb{i:05d}"
        types[mid] = TYPES[0] if rng.randrange(5) else TYPES[1]
        doc, d = make_match(rng, mid, types[mid], v10=rng.randrange(8) == 0)
        dels += d
        (out / "base" / f"{mid}.json").write_text(json.dumps(doc))
    reissued = rng.sample(sorted(types), max(1, n_matches // 10))
    delta_types = {mid: TYPES[1 - TYPES.index(types[mid])] for mid in reissued}
    for i in range(n_matches, n_matches + max(1, n_matches // 20)):
        delta_types[f"pb{i:05d}"] = TYPES[0]
    for mid, t in sorted(delta_types.items()):
        doc, _ = make_match(rng, mid, t, v10=rng.randrange(8) == 0)
        (out / "delta" / f"{mid}.json").write_text(json.dumps(doc))
    after = {**types, **delta_types}

    pair = Counter((b, w) for _, b, w, _, _, _ in dels)
    (batter, bowler), _ = min(pair.items(), key=lambda kv: (-kv[1], kv[0]))
    team = batter.split(" ")[0]
    params = {"batter": batter, "bowler": bowler, "team": team}
    return params, expected(dels, types, after, params)


def by_type(types):
    return {"rows": len(types), "ids": len(types),
            "by_type": dict(Counter(types.values()))}


def expected(dels, types, after, params):
    """What CricketEtl must return on the corpus (see graft.etl.CricketEtl)."""
    exp = {"write_tables": {"matches": len(types), "deliveries": len(dels)},
           "upsert_full": by_type(types), "upsert_delta": by_type(after)}

    runs, balls, bnd = Counter(), Counter(), Counter()
    for _, b, _, rb, _, _ in dels:
        runs[b] += rb
        balls[b] += 1
        bnd[b] += rb in (4, 6)
    top = sorted(runs, key=lambda b: (-runs[b], b))[:10]
    exp["runs_by_batter"] = {
        "cols": ["batter", "runs", "balls", "boundaries", "strikeRate", "boundaryPct"],
        "rows": [[b, runs[b], balls[b], bnd[b], runs[b] / balls[b] * 100,
                  bnd[b] / balls[b] * 100] for b in top]}

    wk = Counter()
    for _, _, w, _, _, out in dels:
        wk[w] += out
    top = sorted(wk, key=lambda w: (-wk[w], w))[:10]
    exp["wickets_by_bowler"] = {"cols": ["bowler", "wickets"],
                                "rows": [[w, wk[w]] for w in top]}

    batter, bowler, team = params["batter"], params["bowler"], params["team"]
    h = [(rb + ex, out) for _, b, w, rb, ex, out in dels if b == batter and w == bowler]
    exp["head_to_head"] = {"cols": ["balls", "runs", "outs"],
                           "rows": [[len(h), sum(r for r, _ in h), sum(o for _, o in h)]]}

    agg = defaultdict(lambda: [0, 0, 0])
    for _, b, w, rb, ex, out in dels:
        if b == batter:
            a = agg[w]
            a[0] += 1
            a[1] += rb + ex
            a[2] += out
    tough = [[w, n, r, o, r / n * 100] for w, (n, r, o) in agg.items() if n >= 30]
    tough.sort(key=lambda x: (x[4], -x[3], x[0]))
    exp["toughest_bowlers"] = {"cols": ["bowler", "balls", "runs", "outs", "strikeRate"],
                               "rows": tough[:10]}

    faced = defaultdict(Counter)  # bowler -> batter -> balls, team's innings only
    for t, b, w, _, _, _ in dels:
        if t == team:
            faced[w][b] += 1
    co = Counter()
    for cnt in faced.values():
        for a, ca in cnt.items():
            for b, cb in cnt.items():
                if a != b:
                    co[(a, b)] += ca * cb
    rows = sorted(([a, b, n] for (a, b), n in co.items() if n >= 20),
                  key=lambda x: (-x[2], x[0], x[1]))
    exp["partnerships"] = {"cols": ["a", "b", "co_appearances"], "rows": rows[:20]}
    exp["pagerank_players"] = pagerank({(b, w) for _, b, w, _, _, _ in dels})
    return exp


def pagerank(edges, iters=10, damping=0.85):
    """GraphOps.pageRank: distinct edges, rank0 = 1/n, no dangling
    redistribution. Returns {node: rank}."""
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    out = Counter(s for s, _ in edges)
    rank = dict.fromkeys(nodes, 1.0 / n)
    for _ in range(iters):
        msg = Counter()
        for s, d in edges:
            msg[d] += rank[s] / out[s]
        rank = {v: (1 - damping) / n + damping * msg[v] for v in nodes}
    return rank


def pagerank_ok(got, rank, limit=20):
    """The returned top-`limit` (node, rank) rows match the ranks computed
    here; summation order may differ, so ranks compare to 1e-9."""
    rows = got["rows"]
    idx = {c: i for i, c in enumerate(got["cols"])}
    if len(rows) != min(limit, len(rank)) or set(idx) != {"node", "rank"}:
        return False
    close = lambda a, b: abs(a - b) <= 1e-9 * max(abs(a), abs(b))
    if not all(r[idx["node"]] in rank and close(r[idx["rank"]], rank[r[idx["node"]]])
               for r in rows):
        return False
    cut = sorted(rank.values(), reverse=True)[len(rows) - 1]
    return all(r[idx["rank"]] >= cut or close(r[idx["rank"]], cut) for r in rows)
