"""Seeded inputs for the benchmark: Chess.com monthly archives, an
openings book and monthly re-pulls.  (The corpus workload reads the
repository's sf0.01 corpus fixture, copied into ``fixture/``.)

Everything derives from one ``random.Random(seed)``, so the same seed
gives byte-identical files.  Unlike ``sources/demo.py`` (a 45-game
fixture), the archives here have the shapes the pipeline meets in real
use:

- game URLs are unique across months (``url_id``), so latest-wins never
  merges two different games;
- games run ~80 half-moves and start with a line from the book;
- the book has ~3.5k entries with nested prefixes, the size of the
  reference's ``openings.csv``;
- each month is one JSON-array file, as the API ships it.
"""

from __future__ import annotations

import csv
import json
import os
import random

USERNAME = "Rhythmbear1"
FIRST_YEAR = 2023
MAX_GAMES_PER_MONTH = 1_000_000
URL_PREFIX = "https://www.chess.com/game/live/"
OPENING_URL_PREFIX = "https://www.chess.com/openings/"

# result code -> category, as the warehouse's dim_results seeds it
RESULT_CATEGORY = {
    "win": "Win", "checkmated": "Loss", "agreed": "Draw", "repetition": "Draw",
    "timeout": "Win", "resigned": "Loss", "stalemate": "Draw", "lose": "Loss",
    "insufficient": "Draw", "50move": "Draw", "abandoned": "Draw",
    "kingofthehill": "Win", "threecheck": "Win", "timevsinsufficient": "Draw",
    "bughousepartnerlose": "Loss",
}
RESULT_CODES = list(RESULT_CATEGORY)
RESULT_WEIGHTS = [30, 14, 6, 3, 8, 16, 1, 4, 2, 1, 1, 1, 1, 1, 1]
TIME_CONTROLS = ["60", "120+1", "180", "180+2", "300", "300+5", "600", "600+5", "900+10"]

_FILES = "abcdefgh"
_PIECES = "NBRQK"
SAN_POOL = (
    [f + r for f in _FILES for r in "3456"]
    + [p + f + r for p in _PIECES for f in _FILES for r in "2367"]
    + [p + "x" + f + r for p in "NBQ" for f in _FILES for r in "45"]
    + [f + "x" + g + r for f, g in zip(_FILES, _FILES[1:]) for r in "45"]
    + ["O-O", "O-O-O", "Qh5+", "Bb5+", "Nd5+"]
)
_ADJ = (
    "Amber Brisk Cobalt Dusky Elder Fallow Gilded Hollow Ivory Jade Keen "
    "Lunar Misty Noble Olive Pale Quiet Russet Silver Tawny Umber Vivid "
    "Wild Young Azure Bold Crimson Dark Early Fierce Grand High"
).split()
_NOUN = (
    "Defense Gambit Opening Attack System Countergambit Game Variation "
    "Line Setup Formation Complex Trap Approach Reply Structure"
).split()
_PLACE = (
    "Riga Vienna Paris London Oslo Lima Quito Cairo Delhi Kyoto Perth Turin "
    "Bergen Porto Zurich Malmo Odessa Tartu Lucca Split Brno Ghent Lund "
    "Nantes Leeds Basel Graz Siena Sopot Varna Cadiz Arles"
).split()


def month_of(month_index: int) -> tuple[int, int]:
    """Month index (0-based) -> (year, month)."""
    return FIRST_YEAR + month_index // 12, month_index % 12 + 1


def url_id(month_index: int, i: int) -> int:
    """Game id unique across months for up to MAX_GAMES_PER_MONTH games."""
    if not 0 <= i < MAX_GAMES_PER_MONTH:
        raise ValueError(f"game index {i} out of range")
    return 100_000_000 + month_index * MAX_GAMES_PER_MONTH + i


def numbered(moves: list[str]) -> str:
    """``["e4", "e5", "Nf3"]`` -> ``"1. e4 e5 2. Nf3"``, the book's format."""
    out = []
    for j, mv in enumerate(moves):
        out.append(f"{j // 2 + 1}. {mv}" if j % 2 == 0 else mv)
    return " ".join(out)


def make_book(rng: random.Random, n_entries: int = 3500, max_depth: int = 18) -> list[dict]:
    """Opening book with nested prefixes: family roots of 2-4 half-moves,
    then variations and sub-variations that extend a parent line by 1-3
    half-moves (at most ``max_depth`` half-moves, so every line fits the
    classifier's 30-token window)."""
    entries: list[dict] = []
    seen_pgn: set[str] = set()
    seen_name: set[str] = set()

    def add(moves: list[str], name: str, eco: str) -> bool:
        pgn = numbered(moves)
        if pgn in seen_pgn or name in seen_name:
            return False
        seen_pgn.add(pgn)
        seen_name.add(name)
        entries.append({"eco_family": eco[0], "eco": eco, "name": name,
                        "pgn": pgn, "moves": moves})
        return True

    n_families = 64
    while len(entries) < n_families:
        moves = [rng.choice(SAN_POOL) for _ in range(rng.randint(2, 4))]
        name = f"{rng.choice(_PLACE)} {rng.choice(_NOUN)}"
        add(moves, name, f"{'ABCDE'[len(entries) % 5]}{rng.randrange(100):02d}")
    while len(entries) < n_entries:
        parent = rng.choice(entries)
        if len(parent["moves"]) >= max_depth:
            continue
        extra = rng.randint(1, min(3, max_depth - len(parent["moves"])))
        moves = parent["moves"] + [rng.choice(SAN_POOL) for _ in range(extra)]
        sep = ": " if ":" not in parent["name"] else ", "
        name = f"{parent['name']}{sep}{rng.choice(_ADJ)} {rng.choice(_NOUN)}"
        add(moves, name, parent["eco"])
    return entries


def opening_url(name: str) -> str:
    """Chess.com ECOUrl for a book name: punctuation dropped, spaces
    dashed (``opening_name_from_url`` inverts this)."""
    return OPENING_URL_PREFIX + name.replace(":", "").replace(",", "").replace(" ", "-")


def _pgn_text(g: dict) -> str:
    """Chess.com live PGN: header tags, then moves with clock comments."""
    moves = []
    for j, mv in enumerate(g["moves"]):
        no = j // 2 + 1
        clk = f"{{[%clk 0:{9 - j // 20 % 10:02d}:{59 - j % 60:02d}]}}"
        moves.append(f"{no}. {mv} {clk}" if j % 2 == 0 else f"{no}... {mv} {clk}")
    result = {"white": "1-0", "black": "0-1"}.get(g["winner"], "1/2-1/2")
    y, m, d = g["date"]
    date = f"{y}.{m:02d}.{d:02d}"
    return (
        f'[Event "Live Chess"]\n[Site "Chess.com"]\n[Date "{date}"]\n'
        f'[White "{g["white_user"]}"]\n[Black "{g["black_user"]}"]\n'
        f'[Result "{result}"]\n[CurrentPosition "{g["fen"]}"]\n'
        f'[Timezone "UTC"]\n[ECO "{g["eco"]}"]\n[ECOUrl "{g["eco_url"]}"]\n'
        f'[StartTime "{g["start"]}"]\n[EndDate "{date}"]\n[EndTime "{g["end"]}"]\n'
        f"\n{' '.join(moves)} {result}\n"
    )


def _results(my_result: str, my_is_white: bool) -> tuple[str, str, str | None]:
    """(white result, black result, winner colour or None)."""
    cat = RESULT_CATEGORY[my_result]
    if cat == "Win":
        opp = "resigned"
    elif cat == "Loss":
        opp = "win"
    else:
        opp = my_result
    white, black = (my_result, opp) if my_is_white else (opp, my_result)
    me, them = ("white", "black") if my_is_white else ("black", "white")
    winner = {"Win": me, "Loss": them}.get(cat)
    return white, black, winner


def make_game(rng: random.Random, book: list[dict], month_index: int, i: int) -> dict:
    """One game record (the generator's own form; ``to_api`` renders it)."""
    year, month = month_of(month_index)
    my_is_white = rng.random() < 0.5
    me = USERNAME if rng.random() < 0.8 else USERNAME.swapcase()
    opp = f"Opponent{rng.randrange(5000):04d}"
    entry = rng.choice(book)
    n_moves = max(len(entry["moves"]) + 1, min(180, int(rng.gauss(80, 25))))
    moves = entry["moves"] + [rng.choice(SAN_POOL) for _ in range(n_moves - len(entry["moves"]))]
    hour, minute, second = rng.randrange(22), rng.randrange(60), rng.randrange(60)
    dur = rng.randint(60, 3599)
    end_s = hour * 3600 + minute * 60 + second + dur
    my_rating = 1200 + 6 * month_index + rng.randint(-60, 60)
    return {
        "id": url_id(month_index, i),
        "my_is_white": my_is_white,
        "me": me,
        "opp": opp,
        "my_result": rng.choices(RESULT_CODES, RESULT_WEIGHTS)[0],
        "my_rating": my_rating,
        "opp_rating": my_rating + rng.randint(-150, 150),
        "time_control": rng.choice(TIME_CONTROLS),
        "eco": entry["eco"],
        "eco_url": opening_url(entry["name"]),
        "moves": moves,
        "date": (year, month, rng.randint(1, 28)),
        "start": f"{hour:02d}:{minute:02d}:{second:02d}",
        "end": f"{end_s // 3600:02d}:{end_s // 60 % 60:02d}:{end_s % 60:02d}",
        "fen": f"rnbqkbnr/pppppppp/8/8/8/8/PPPPPPPP/RNBQKBNR w KQkq - {len(moves)}",
        "rated": rng.random() < 0.8,
    }


def to_api(g: dict) -> dict:
    """Render a generated game as the Chess.com archive JSON object."""
    white_user, black_user = (g["me"], g["opp"]) if g["my_is_white"] else (g["opp"], g["me"])
    white_res, black_res, winner = _results(g["my_result"], g["my_is_white"])
    white_rating, black_rating = (
        (g["my_rating"], g["opp_rating"]) if g["my_is_white"] else (g["opp_rating"], g["my_rating"])
    )
    base = int(g["time_control"].split("+")[0])
    time_class = "bullet" if base < 180 else "blitz" if base < 600 else "rapid"
    y, m, d = g["date"]
    pgn = _pgn_text({**g, "white_user": white_user, "black_user": black_user, "winner": winner})
    return {
        "url": f"{URL_PREFIX}{g['id']}",
        "pgn": pgn,
        "time_control": g["time_control"],
        "end_time": 1672531200 + ((y - FIRST_YEAR) * 372 + (m - 1) * 31 + d) * 86400,
        "rated": g["rated"],
        "tcn": "mC0Kgv5Q",
        "uuid": f"uuid-{g['id']}",
        "initial_setup": "rnbqkbnr/pppppppp/8/8/8/8/PPPPPPPP/RNBQKBNR w KQkq -",
        "fen": g["fen"],
        "time_class": time_class,
        "rules": "chess",
        "white": {"rating": white_rating, "result": white_res,
                  "@id": f"https://api.chess.com/pub/player/{white_user.lower()}",
                  "username": white_user, "uuid": f"pu-{white_user.lower()}"},
        "black": {"rating": black_rating, "result": black_res,
                  "@id": f"https://api.chess.com/pub/player/{black_user.lower()}",
                  "username": black_user, "uuid": f"pu-{black_user.lower()}"},
    }


class ChessHistory:
    """A user's archive: ``months`` months of ``games_per_month`` games,
    the openings book, and the truth the checks compare against
    (``truth[url] = (my_result, (y, m, d))``), updated by each re-pull."""

    def __init__(self, seed: int, months: int = 24, games_per_month: int = 2000,
                 book_entries: int = 3500):
        self.rng = random.Random(seed)
        self.book = make_book(self.rng, book_entries)
        self.months = [
            [make_game(self.rng, self.book, mi, i) for i in range(games_per_month)]
            for mi in range(months)
        ]
        self.truth = {
            f"{URL_PREFIX}{g['id']}": (g["my_result"], g["date"])
            for games in self.months for g in games
        }

    @property
    def n_games(self) -> int:
        return sum(len(m) for m in self.months)

    def write_book(self, path: str) -> str:
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["eco_family", "eco", "name", "pgn"])
            for e in self.book:
                w.writerow([e["eco_family"], e["eco"], e["name"], e["pgn"]])
        return path

    def write_months(self, bronze_dir: str) -> list[str]:
        """One JSON-array file per month; returns the paths."""
        os.makedirs(bronze_dir, exist_ok=True)
        paths = []
        for mi, games in enumerate(self.months):
            y, m = month_of(mi)
            paths.append(write_json(os.path.join(bronze_dir, f"{y}-{m:02d}.json"), games))
        return paths

    def repull(self, month_index: int, changed: float = 0.10, moved: float = 0.02) -> list[dict]:
        """Month ``month_index`` pulled again: the same games, about
        ``changed`` of them with a corrected result and ``moved`` of them
        with a date in a neighbouring month.  Updates ``truth``."""
        out = []
        n_months = len(self.months)
        for g in self.months[month_index]:
            g = dict(g)
            if self.rng.random() < changed:
                g["my_result"] = self.rng.choice([c for c in RESULT_CODES if c != g["my_result"]])
            if self.rng.random() < moved:
                step = self.rng.choice([-1, 1])
                mi = month_index + step if 0 <= month_index + step < n_months else month_index - step
                y, m = month_of(mi)
                g["date"] = (y, m, self.rng.randint(1, 28))
            self.truth[f"{URL_PREFIX}{g['id']}"] = (g["my_result"], g["date"])
            out.append(g)
        return out


def write_json(path: str, games: list[dict]) -> str:
    """Write games as one JSON array document, as the archive API ships it."""
    with open(path, "w") as f:
        json.dump([to_api(g) for g in games], f)
    return path
