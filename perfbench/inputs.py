"""Seeded inputs of the benchmark's workloads. The same seed gives the same
files, byte for byte; the program under test sees only these files.

Game events follow the reference Injector's model (FIXTURES.md section 1):
teams named Color+Animal with users `user<N>_<Team>`, scores 0-19, about
a third of the teams with a robot user that plays far more often, and
about 1 event in 600 arriving 5-10 minutes late. Each line is
`user,team,score,timestamp_ms,readable_time`.
"""
import os
import random
import time

COLORS = ["Magenta", "AliceBlue", "Almond", "Amaranth", "Amber", "Amethyst",
          "AndroidGreen", "AntiqueBrass", "Fuchsia", "Ruby", "AppleGreen",
          "Apricot", "Aqua", "ArmyGreen", "Asparagus", "Auburn", "Azure",
          "Banana", "Beige", "Bisque", "BarnRed", "BattleshipGrey"]
ANIMALS = ["Echidna", "Koala", "Wombat", "Marmot", "Quokka", "Kangaroo",
           "Dingo", "Numbat", "Emu", "Wallaby", "CaneToad", "Bilby",
           "Possum", "Cassowary", "Kookaburra", "Platypus", "Bandicoot",
           "Cockatoo", "Antechinus"]

T0_MS = 1446336000000  # 2015-11-01 00:00:00 UTC, the start of the event clock
HOUR_MS = 3600000
LATE_ONE_IN = 600

# stream-gaming: one file is 2 s of the Injector's ~1k events/s; the
# synthetic event clock advances 40 minutes a file, so hourly team
# windows close and the 120-minute allowed lateness is passed within
# one run. One beyond-lateness event is planted in each file after the
# first two, once the watermark is set. The first five files are the
# set-up's warm-up: a streaming query runs for long, so a run times the
# steady per-batch cost, after the JIT has compiled the per-batch code
# (steps 1-4 of a fresh JVM spent 2/3 of their CPU in the JIT, and
# spread 0.19 of their median over five seeds; steps 5-8 spread 0.09).
STREAM_FILES = 9
STREAM_WARM_FILES = 5
STREAM_EVENTS_PER_FILE = 2000
STREAM_FILE_MS = 40 * 60000
STREAM_THRESHOLD = 5000


def readable(ts):
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(ts // 1000)) + ".%03d" % (ts % 1000)


# The seed drives the events; the key populations (team and user names,
# the vocabulary) come from seed 0 whatever the run's seed, so that how
# the keys hash across shuffle partitions does not change from run to run.
class Game:
    """The fixed roster of teams and users, and the event draw."""

    def __init__(self, n_teams=15):
        rng = random.Random(0)
        names = rng.sample([c + a for c in COLORS for a in ANIMALS], n_teams)
        self.users, weights, n = [], [], 0
        for i, team in enumerate(names):
            for _ in range(rng.randint(5, 15)):
                self.users.append((f"user{n}_{team}", team))
                weights.append(1.0)
                n += 1
            if i % 3 == 0:
                self.users.append((f"Robot-{n}_{team}", team))
                weights.append(12.0)
                n += 1
        self.weights = weights

    def draw(self, rng, k):
        return rng.choices(self.users, weights=self.weights, k=k)


def event_line(user, team, score, ts):
    return f"{user},{team},{score},{ts},{readable(ts)}"


def stream_gaming(seed, root):
    """Writes `files/part-NNNN.txt` and `warm_files`; returns the reference
    events as (user, team, score, ts_ms, planted) tuples."""
    rng = random.Random(seed)
    game = Game()
    files = os.path.join(root, "files")
    os.makedirs(files)
    events = []
    for i in range(STREAM_FILES):
        start = T0_MS + i * STREAM_FILE_MS
        step = STREAM_FILE_MS // STREAM_EVENTS_PER_FILE
        lines = []
        for j, (user, team) in enumerate(game.draw(rng, STREAM_EVENTS_PER_FILE)):
            ts = start + j * step + rng.randrange(step)
            if rng.randrange(LATE_ONE_IN) == 0:
                ts -= rng.randint(5 * 60000, 10 * 60000)
            score = rng.randrange(20)
            lines.append(event_line(user, team, score, ts))
            events.append((user, team, score, ts, False))
        if i % 3 == 1:
            # malformed rows the parser must count and drop
            lines.insert(rng.randrange(len(lines)), f"{game.users[0][0]},{game.users[0][1]},x,{start}")
            lines.insert(rng.randrange(len(lines)), "short,row")
        if i >= 2:
            # far beyond the allowed lateness, each in its own (hour, team)
            # window so the watermark drop count is exact
            k = i - 2
            user, team = game.users[rng.randrange(len(game.users))]
            ts = T0_MS - (6 + k) * HOUR_MS + rng.randrange(HOUR_MS)
            score = rng.randrange(20)
            lines.insert(rng.randrange(len(lines)), event_line(user, team, score, ts))
            events.append((user, team, score, ts, True))
        with open(os.path.join(files, "part-%04d.txt" % i), "w") as f:
            f.write("\n".join(lines) + "\n")
    with open(os.path.join(root, "warm_files"), "w") as f:
        f.write(f"{STREAM_WARM_FILES}\n")
    return events


# pipelines: generated text for WordCount and TfIdf, a game-event CSV
# for UserScore and HourlyTeamScore; the curation mains read the fixture.
PIPE_CORPUS_LINES = 20000
PIPE_TFIDF_DOCS = 24
PIPE_TFIDF_LINES = 400
PIPE_GAME_EVENTS = 100000


def vocabulary(rng, n=3000):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(2, 9))))
    return sorted(words)


def text_line(rng, vocab, weights):
    words = rng.choices(vocab, weights=weights, k=rng.randint(4, 16))
    out = []
    for w in words:
        if rng.random() < 0.1:
            w = w.capitalize()
        out.append(w + rng.choice([" ", " ", " ", ", ", ". ", "; ", " - "]))
    return "".join(out).strip()


def pipelines(seed, root):
    """Writes `corpus.txt`, `warm.txt`, `tfidf/doc-NN.txt` and `game.csv`."""
    rng = random.Random(seed)
    population = random.Random(0)
    vocab = vocabulary(population)
    weights = [1.0 / (r + 1) for r in range(len(vocab))]
    population.shuffle(weights)
    with open(os.path.join(root, "corpus.txt"), "w") as f:
        for _ in range(PIPE_CORPUS_LINES):
            f.write(text_line(rng, vocab, weights) + "\n")
    with open(os.path.join(root, "warm.txt"), "w") as f:
        for _ in range(200):
            f.write(text_line(rng, vocab, weights) + "\n")
    os.makedirs(os.path.join(root, "tfidf"))
    for d in range(PIPE_TFIDF_DOCS):
        with open(os.path.join(root, "tfidf", "doc-%02d.txt" % d), "w") as f:
            for _ in range(PIPE_TFIDF_LINES):
                f.write(text_line(rng, vocab, weights) + "\n")
    game = Game()
    with open(os.path.join(root, "game.csv"), "w") as f:
        span = 36 * HOUR_MS
        for i, (user, team) in enumerate(game.draw(rng, PIPE_GAME_EVENTS)):
            if i % 5000 == 17:
                f.write(f"{user},{team},notanumber,{T0_MS}\n")
            ts = T0_MS + rng.randrange(span)
            f.write(event_line(user, team, rng.randrange(20), ts) + "\n")
