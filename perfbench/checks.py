"""Output checks of the benchmark's workloads. Each check returns a list of
problems; an empty list means the outputs are correct. The references are
computed here, in Python, from the generated inputs, independently of the
engine.
"""
import calendar
import csv
import glob
import json
import math
import os
import re
from collections import Counter, defaultdict

from inputs import HOUR_MS, STREAM_THRESHOLD

# What CuratePipelineMain and IndexPipelineMain report on
# the vendored sf0.01 fixture (500 documents, 500 embeddings), as the
# engine computes them at the commit that added this benchmark.
CURATE_FUNNEL = {"n_in": 500, "n_quality": 486, "n_unique": 486, "n_kept": 463}
INDEX_VECTORS = 500


def part_rows(path, header=False):
    rows = []
    for p in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(p, newline="") as f:
            r = list(csv.reader(f))
        rows.extend(r[1:] if header and r else r)
    return rows


def part_lines(path):
    out = []
    for p in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(p) as f:
            out.extend(line.rstrip("\n") for line in f)
    return out


def iso_ms(s):
    return calendar.timegm(tuple(int(x) for x in re.split(r"[-T :]", s[:19])) + (0, 0, 0)) * 1000


def compare(what, got, want, problems):
    if got != want:
        missing = [k for k in want if k not in got][:3]
        extra = [k for k in got if k not in want][:3]
        wrong = [(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]][:3]
        problems.append(f"{what}: {len(got)} rows vs {len(want)} expected; "
                        f"missing {missing} extra {extra} wrong {wrong}")


def check_stream_gaming(out, events, extra):
    problems = []
    planted = [e for e in events if e[4]]
    if extra.get("late_dropped_rows") != len(planted):
        problems.append(f"late rows dropped {extra.get('late_dropped_rows')}, planted {len(planted)}")
    users = Counter()
    team_total = Counter()
    for user, team, score, ts, _ in events:
        users[user] += score
        team_total[team] += score
    got_users = {r[0]: int(r[1]) for r in part_rows(os.path.join(out, "users"))}
    compare("user totals", got_users, dict(users), problems)
    windows = Counter()
    for user, team, score, ts, is_planted in events:
        if not is_planted:
            windows[(ts // HOUR_MS * HOUR_MS, team)] += score
    # append mode emits a window once the final watermark (latest event
    # time less the 120-minute allowed lateness) reaches its end
    watermark = max(e[3] for e in events) - 2 * HOUR_MS
    closed = {k: v for k, v in windows.items() if k[0] + HOUR_MS <= watermark}
    got_windows = {(iso_ms(r[0]), r[1]): int(r[2]) for r in part_rows(os.path.join(out, "teams"))}
    if not closed:
        problems.append("no team window closes within the run")
    compare("closed team windows", got_windows, closed, problems)
    crossings = defaultdict(list)
    for key, total, threshold in part_rows(os.path.join(out, "crossings")):
        if int(threshold) != STREAM_THRESHOLD:
            problems.append(f"crossing threshold {threshold}")
        crossings[key].append(int(total))
    for team in set(team_total) | set(crossings):
        got = sorted(crossings.get(team, []))
        want_n = team_total[team] // STREAM_THRESHOLD
        if len(got) != want_n or any(t // STREAM_THRESHOLD != i + 1 for i, t in enumerate(got)):
            problems.append(f"crossings of {team}: {got[:5]}..., want {want_n} crossings")
    for name, width in (("stats_teams", 3), ("stats_sessions", 2)):
        rows = part_rows(os.path.join(out, name))
        if not rows or any(len(r) != width for r in rows):
            problems.append(f"{name}: {len(rows)} rows, want a non-empty {width}-column output")
    return problems


def tokens_cased(line):
    return [w for w in re.split(r"[^A-Za-z]+", line) if w]


def tokens_lower(line):
    return [w for w in re.split(r"[^a-z]+", line.lower()) if w]


def game_rows(path):
    rows = []
    with open(path) as f:
        for line in f:
            f_ = line.rstrip("\n").split(",")
            try:
                rows.append((f_[0].strip(), f_[1].strip(), int(f_[2]), int(f_[3])))
            except (IndexError, ValueError):
                pass
    return rows


def check_pipelines(inp, out):
    problems = []
    words = Counter()
    with open(os.path.join(inp, "corpus.txt")) as f:
        for line in f:
            words.update(tokens_cased(line))
    game = game_rows(os.path.join(inp, "game.csv"))
    users, hourly = Counter(), Counter()
    for user, team, score, ts in game:
        users[user] += score
        hourly[(ts // HOUR_MS * HOUR_MS, team)] += score
    docs = {}
    for p in sorted(glob.glob(os.path.join(inp, "tfidf", "*.txt"))):
        with open(p) as f:
            docs[os.path.basename(p)] = Counter(w for line in f for w in tokens_lower(line))
    df = Counter(w for c in docs.values() for w in c)
    got = {}
    for line in part_lines(os.path.join(out, "wordcount")):
        w, n = line.rsplit(": ", 1)
        got[w] = int(n)
    compare("wordcount", got, dict(words), problems)
    got = {}
    for line in part_lines(os.path.join(out, "user_score")):
        u, n = line.rsplit(": ", 1)
        got[u] = int(n)
    compare("user_score", got, dict(users), problems)
    rows = part_rows(os.path.join(out, "hourly_team_score"), header=True)
    got = {(iso_ms(w + ":00"), t): int(n) for w, t, n in rows}
    compare("hourly_team_score", got, dict(hourly), problems)
    rows = part_rows(os.path.join(out, "tfidf"), header=True)
    got = {(u, w): float(v) for u, w, v in rows}
    want = {(u, w): n / sum(c.values()) * math.log(len(docs) / df[w])
            for u, c in docs.items() for w, n in c.items()}
    if set(got) != set(want) or any(abs(got[k] - want[k]) > 1e-9 * max(1.0, abs(want[k]))
                                    for k in want):
        problems.append(f"tfidf: {len(got)} rows vs {len(want)} expected, or values differ")
    try:
        with open(os.path.join(out, "curate", "_funnel.json")) as f:
            funnel = json.load(f)
        if {k: funnel.get(k) for k in CURATE_FUNNEL} != CURATE_FUNNEL:
            problems.append(f"curate funnel {funnel}, want {CURATE_FUNNEL}")
        with open(os.path.join(out, "index", "_manifest.json")) as f:
            manifest = json.load(f)
        if manifest.get("n_vectors") != INDEX_VECTORS or manifest.get("n_cells") != 10:
            problems.append(f"index manifest has {manifest.get('n_vectors')} vectors "
                            f"in {manifest.get('n_cells')} cells")
        if not glob.glob(os.path.join(out, "index", "postings", "cid=*", "*.parquet")):
            problems.append("index: no postings written")
    except (OSError, ValueError) as e:
        problems.append(f"curation outputs: {e}")
    return problems
