"""Seeded input generators for the benchmark.

Games are random legal play replayed through the program's own
``board.Board.apply_san``, so every generated SAN token is one the
parser accepts (and every corrupt token one it rejects). The generator
also writes a manifest of the row counts each of the seven game tables
must hold after the import, which the benchmark checks after every
timed operation.

Steadiness: the multiset of game lengths, and the lengths of the games
with evals and of the corrupt ones, are fixed by the size arguments
alone; the seed only shuffles the games and draws the moves. So the
amount of work is nearly the same for every seed (a random game can
still end early in mate or stalemate).

The index corpus (documents and embeddings) is synthesized here with
the shape of the catalog test data: space-separated words from a
small vocabulary and 64-dimensional float vectors around eight labelled
centres.
"""

from __future__ import annotations

import calendar
import json
import math
import os
import random
import time

from chess_pipeline_spark.board import Board, IllegalSanError, _name

PLAYER = "BenchPlayer"
_FILES = "abcdefgh"
_KNIGHT = ((1, 2), (2, 1), (2, -1), (1, -2), (-1, -2), (-2, -1), (-2, 1), (-1, 2))
_KING = ((1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1))
_ROOK = ((1, 0), (-1, 0), (0, 1), (0, -1))
_BISHOP = ((1, 1), (1, -1), (-1, 1), (-1, -1))
_RAYS = {"R": _ROOK, "B": _BISHOP, "Q": _ROOK + _BISHOP}
# (initial seconds, increment, lichess speed)
_TIME_CONTROLS = (
    (60, 0, "bullet"),
    (120, 1, "bullet"),
    (180, 0, "blitz"),
    (180, 2, "blitz"),
    (300, 0, "blitz"),
    (300, 3, "blitz"),
    (600, 0, "rapid"),
    (600, 5, "rapid"),
)
_OPENINGS = 24  # shared opening lines, so positions repeat across games
MIN_PLIES, MAX_PLIES = 20, 160


# ---------------------------------------------------------------------------
# legal random play on board.Board
# ---------------------------------------------------------------------------


def _targets(b: Board, frm: int, piece: str):
    """Pseudo-legal destination squares (and promotion letter) of one
    piece of the side to move."""
    white = b.white_to_move
    f, r = frm % 8, frm // 8
    u = piece.upper()
    own = str.isupper if white else str.islower
    if u == "P":
        dr = 1 if white else -1
        last = 7 if white else 0
        out = []
        one = frm + 8 * dr
        if 0 <= one < 64 and not b.sq[one]:
            out.append(one)
            two = frm + 16 * dr
            if r == (1 if white else 6) and not b.sq[two]:
                out.append(two)
        for df in (-1, 1):
            nf, nr = f + df, r + dr
            if 0 <= nf < 8 and 0 <= nr < 8:
                t = nr * 8 + nf
                if (b.sq[t] and not own(b.sq[t])) or t == b.ep_square:
                    out.append(t)
        res = []
        for t in out:
            if t // 8 == last:
                res.append((t, "Q"))
            else:
                res.append((t, None))
        return res
    out = []
    if u in ("N", "K"):
        for df, dr in _KNIGHT if u == "N" else _KING:
            nf, nr = f + df, r + dr
            if 0 <= nf < 8 and 0 <= nr < 8:
                t = nr * 8 + nf
                if not (b.sq[t] and own(b.sq[t])):
                    out.append((t, None))
        return out
    for df, dr in _RAYS[u]:
        nf, nr = f + df, r + dr
        while 0 <= nf < 8 and 0 <= nr < 8:
            t = nr * 8 + nf
            if b.sq[t]:
                if not own(b.sq[t]):
                    out.append((t, None))
                break
            out.append((t, None))
            nf, nr = nf + df, nr + dr
    return out


def _castles(b: Board) -> list[str]:
    white = b.white_to_move
    rank = 0 if white else 7
    k = rank * 8 + 4
    if b.sq[k] != ("K" if white else "k") or b._attacked(k, not white):
        return []
    out = []
    for side, between, passes, san in (
        ("K" if white else "k", (5, 6), (5, 6), "O-O"),
        ("Q" if white else "q", (1, 2, 3), (3, 2), "O-O-O"),
    ):
        rook = rank * 8 + (7 if san == "O-O" else 0)
        if (
            b.castling[side]
            and b.sq[rook] == ("R" if white else "r")
            and all(not b.sq[rank * 8 + x] for x in between)
            and not any(b._attacked(rank * 8 + x, not white) for x in passes)
        ):
            out.append(san)
    return out


def _legal(b: Board, frm: int, to: int) -> bool:
    ep = None
    if b.sq[frm].upper() == "P" and to == b.ep_square and not b.sq[to]:
        ep = to - 8 if b.white_to_move else to + 8
    return b._leaves_king_safe(frm, to, ep)


def _san(b: Board, frm: int, to: int, promo: str | None) -> str:
    piece = b.sq[frm]
    u = piece.upper()
    capture = bool(b.sq[to]) or (u == "P" and to == b.ep_square)
    if u == "P":
        s = (_FILES[frm % 8] + "x" if capture else "") + _name(to)
        return s + ("=" + promo if promo else "")
    rivals = [
        i
        for i, p in enumerate(b.sq)
        if p == piece and i != frm and b._piece_reaches(p, i, to) and _legal(b, i, to)
    ]
    dis = ""
    if rivals:
        if all(i % 8 != frm % 8 for i in rivals):
            dis = _FILES[frm % 8]
        elif all(i // 8 != frm // 8 for i in rivals):
            dis = str(frm // 8 + 1)
        else:
            dis = _name(frm)
    return u + dis + ("x" if capture else "") + _name(to)


def _random_move(b: Board, rng: random.Random) -> str | None:
    """SAN of one uniformly drawn legal move, or None when the side to
    move has none (mate or stalemate)."""
    white = b.white_to_move
    own = str.isupper if white else str.islower
    cands: list[tuple[int, int, str | None]] = []
    for frm, p in enumerate(b.sq):
        if p and own(p):
            for to, promo in _targets(b, frm, p):
                cands.append((frm, to, promo))
    rng.shuffle(cands)
    castles = _castles(b)
    if castles and rng.random() < 0.3:
        return rng.choice(castles)
    for frm, to, promo in cands:
        if _legal(b, frm, to):
            return _san(b, frm, to, promo)
    return castles[0] if castles else None


def _in_check(b: Board) -> bool:
    return b._attacked(b._king_sq(b.white_to_move), not b.white_to_move)


def _strip_counter(fen: str) -> str:
    return fen.rsplit(" ", 1)[0]


def _play(b: Board, rng: random.Random, n: int, moves: list[str], fens: list[str] | None):
    """Extend `moves` by up to n legal plies on `b` (applied through
    apply_san). Returns False when the game ended early."""
    for _ in range(n):
        san = _random_move(b, rng)
        if san is None:
            return False
        b.apply_san(san)
        if _in_check(b):
            san += "+"
        moves.append(san)
        if fens is not None:
            fens.append(_strip_counter(b.fen()))
    return True


def _corrupt_token(b: Board, rng: random.Random) -> str:
    """A SAN token that looks ordinary but that apply_san rejects on
    this board."""
    while True:
        cand = rng.choice("KQRBN") + rng.choice(_FILES) + str(rng.randint(1, 8))
        probe = Board()
        probe.sq = list(b.sq)
        probe.white_to_move = b.white_to_move
        probe.castling = dict(b.castling)
        probe.ep_square = b.ep_square
        try:
            probe.apply_san(cand)
        except (IllegalSanError, ValueError, IndexError):
            return cand


# ---------------------------------------------------------------------------
# games
# ---------------------------------------------------------------------------


def _lengths(n: int) -> list[int]:
    """Fixed multiset of game lengths: a stratified grid over a
    triangular-ish distribution on [MIN_PLIES, MAX_PLIES], the same
    for every seed."""
    out = []
    for i in range(n):
        q = (i + 0.5) / n
        # inverse CDF of a triangular distribution with mode near 60
        a, c, m = MIN_PLIES, MAX_PLIES, 60
        fc = (m - a) / (c - a)
        if q < fc:
            x = a + math.sqrt(q * (c - a) * (m - a))
        else:
            x = c - math.sqrt((1 - q) * (c - a) * (c - m))
        out.append(int(round(x)))
    return out


def _clock(sec: float) -> str:
    s = max(0, int(sec))
    return f"{s // 3600}:{(s % 3600) // 60:02d}:{s % 60:02d}"


class GameSet:
    """Generated games: PGN and NDJSON text plus, per game, the row
    counts it contributes (SAN tokens, positions, materials)."""

    def __init__(self) -> None:
        self.pgn: list[str] = []
        self.json: list[str] = []
        self.links: list[str] = []
        self.facts: list[tuple[int, int, int]] = []
        self.eval_fens: set[str] = set()

    @property
    def plies(self) -> int:
        return sum(f[0] for f in self.facts)

    def add(self, link: str, pgn: str, js: str, facts: tuple[int, int, int], fens) -> None:
        self.links.append(link)
        self.pgn.append(pgn)
        self.json.append(js)
        self.facts.append(facts)
        self.eval_fens.update(fens)

    def write(self, pgn_path: str, json_path: str) -> int:
        """Write the two input files; returns their total bytes."""
        with open(pgn_path, "w") as fh:
            fh.write("\n\n".join(self.pgn) + "\n")
        with open(json_path, "w") as fh:
            fh.write("\n".join(self.json) + "\n")
        return os.path.getsize(pgn_path) + os.path.getsize(json_path)


class GameFactory:
    """Draws games for one seed. Openings are drawn once per factory
    and shared by every game it makes."""

    def __init__(self, seed: int, opponents: int = 300) -> None:
        self.rng = random.Random(seed)
        self.seed = seed
        self.openings: list[list[str]] = []
        for _ in range(_OPENINGS):
            moves: list[str] = []
            _play(Board(), self.rng, self.rng.randint(4, 12), moves, None)
            self.openings.append(moves)
        self.opponents = [f"opp{self.seed % 997}_{i}" for i in range(opponents)]
        self.counter = 0

    def _link_id(self) -> str:
        self.counter += 1
        return f"s{self.seed:x}g{self.counter:06d}"

    def game(
        self, gid: str, length: int, day: int, with_evals: bool, corrupt: bool
    ) -> tuple[str, str, tuple[int, int, int], list[str]]:
        """-> (pgn, ndjson line, (tokens, positions, materials), the
        move-counter-stripped FENs of an eval game)."""
        rng = self.rng
        b = Board()
        moves: list[str] = []
        fens: list[str] | None = [] if with_evals else None
        opening = self.openings[min(int(rng.paretovariate(1.2)) - 1, _OPENINGS - 1)]
        for san in opening[:length]:
            b.apply_san(san)
            moves.append(san)
            if fens is not None:
                fens.append(_strip_counter(b.fen()))
        finished = _play(b, rng, length - len(moves), moves, fens)
        cut = len(moves)
        if corrupt:
            cut = rng.randint(len(moves) // 3, max(len(moves) // 3, len(moves) - 2))
            replay = Board()
            for san in moves[:cut]:
                replay.apply_san(san)
            moves[cut] = _corrupt_token(replay, rng)
        n = len(moves)
        if not finished:
            mover_white = n % 2 == 1  # the side that made the last move
            if _in_check(b):
                moves[-1] = moves[-1].rstrip("+") + "#"
                result = "1-0" if mover_white else "0-1"
                status = "mate"
            else:
                result, status = "1/2-1/2", "stalemate"
        else:
            result = rng.choice(("1-0", "0-1", "1-0", "0-1", "1/2-1/2"))
            status = "draw" if result == "1/2-1/2" else rng.choice(("resign", "outoftime"))
        init, inc, speed = rng.choice(_TIME_CONTROLS)
        clk = [float(init), float(init)]
        if rng.random() < 0.05:
            clk[0] = init / 2
        if rng.random() < 0.05:
            clk[1] = init / 2
        ev = rng.gauss(0.2, 0.3)
        body: list[str] = []
        for ply, san in enumerate(moves):
            side = ply % 2
            if ply >= 2:
                clk[side] = max(0.0, clk[side] - rng.expovariate(1 / 4.0) + inc)
            comment = f"[%clk {_clock(clk[side])}]"
            if with_evals:
                ev += rng.gauss(0, 0.35)
                comment = f"[%eval {ev:.2f}] " + comment
            num = f"{ply // 2 + 1}. " if side == 0 else f"{ply // 2 + 1}... "
            body.append(f"{num}{san} {{ {comment} }}")
        white_is_player = rng.random() < 0.5
        opp = rng.choice(self.opponents)
        white, black = (PLAYER, opp) if white_is_player else (opp, PLAYER)
        we, be = rng.randint(1100, 2300), rng.randint(1100, 2300)
        wd, bd = rng.randint(-12, 12), rng.randint(-12, 12)
        y, mo, d = _date(day)
        hh, mm, ss = rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59)
        event = rng.choice(("Rated Blitz game", "Rated Bullet game", "Casual Rapid game", "Hourly Arena"))
        headers = [
            ("Event", event),
            ("Site", f"https://lichess.org/{gid}"),
            ("Date", f"{y}.{mo:02d}.{d:02d}"),
            ("Round", "-"),
            ("White", white),
            ("Black", black),
            ("Result", result),
            ("UTCDate", f"{y}.{mo:02d}.{d:02d}"),
            ("UTCTime", f"{hh:02d}:{mm:02d}:{ss:02d}"),
            ("WhiteElo", str(we)),
            ("BlackElo", str(be)),
            ("WhiteRatingDiff", f"{wd:+d}"),
            ("BlackRatingDiff", f"{bd:+d}"),
            ("Variant", "Standard"),
            ("TimeControl", f"{init}+{inc}"),
            ("ECO", f"{'ABCDE'[rng.randrange(5)]}{rng.randrange(100):02d}"),
            ("Opening", f"Opening {self.openings.index(opening)}"),
            ("Termination", "Time forfeit" if status == "outoftime" else "Normal"),
        ]
        pgn = "\n".join(f'[{k} "{v}"]' for k, v in headers)
        pgn += "\n\n" + " ".join(body) + " " + result + "\n"
        created = 1000 * (calendar.timegm((y, mo, d, hh, mm, ss, 0, 0, 0)))
        rec = {
            "id": gid,
            "rated": not event.startswith("Casual"),
            "variant": "standard",
            "speed": speed,
            "perf": speed,
            "createdAt": created,
            "lastMoveAt": created + 1000 * 2 * init,
            "status": status,
            "players_white_user_name": white,
            "players_white_rating": we,
            "players_white_ratingDiff": wd,
            "players_white_provisional": rng.random() < 0.05,
            "players_black_user_name": black,
            "players_black_rating": be,
            "players_black_ratingDiff": bd,
            "players_black_provisional": rng.random() < 0.05,
            "clock_initial": init,
            "clock_increment": inc,
            "clock_totalTime": init + 40 * inc,
        }
        if result != "1/2-1/2":
            rec["winner"] = "white" if result == "1-0" else "black"
        pos = cut if corrupt else n
        return pgn, json.dumps(rec, sort_keys=True), (n, pos, pos + 1), fens or []

    def games(
        self, n: int, day0: int, days: int, eval_frac: float, corrupt_frac: float
    ) -> GameSet:
        """n fresh games spread over `days` days from day0."""
        # roles spread evenly over the sorted lengths, so the games with
        # evals (and the corrupt ones) have the same lengths for every seed
        roles = ["-"] * n
        for j in range(round(n * eval_frac)):
            roles[int((j + 0.5) * n / round(n * eval_frac))] = "e"
        free = [i for i in range(n) if roles[i] == "-"]
        for j in range(round(n * corrupt_frac)):
            roles[free[int((j + 0.5) * len(free) / round(n * corrupt_frac))]] = "c"
        games = list(zip(_lengths(n), roles))
        self.rng.shuffle(games)
        gs = GameSet()
        for i, (length, role) in enumerate(games):
            gid = self._link_id()
            pgn, js, facts, fens = self.game(
                gid, length, day0 + (i * days) // n, role == "e", role == "c"
            )
            gs.add(gid, pgn, js, facts, fens)
        return gs


def reimport(src: GameSet, idx: list[int], tag: str) -> GameSet:
    """The games at `idx` of `src` again, with the Round header set to
    `tag`: same keys and moves, one changed column, so a check can
    tell a replaced row from a kept one."""
    out = GameSet()
    for i in idx:
        pgn = src.pgn[i].replace('[Round "-"]', f'[Round "{tag}"]', 1)
        out.add(src.links[i], pgn, src.json[i], src.facts[i], ())
    return out


def _date(day: int) -> tuple[int, int, int]:
    t = time.gmtime(1704067200 + 86400 * day)  # 2024-01-01 UTC
    return t.tm_year, t.tm_mon, t.tm_mday


def expected_rows(games: list[GameSet]) -> dict[str, int]:
    """Row counts of the seven tables after importing `games` in
    order, re-imported links counted once (the last import wins)."""
    last: dict[str, tuple[int, int, int]] = {}
    fens: set[str] = set()
    for gs in games:
        fens |= gs.eval_fens
        for link, facts in zip(gs.links, gs.facts):
            last[link] = facts
    return {
        "chess_games": len(last),
        "game_moves": sum(f[0] for f in last.values()),
        "game_clocks": sum(f[0] for f in last.values()),
        "game_positions": sum(f[1] for f in last.values()),
        "game_materials": sum(f[2] for f in last.values()),
        "position_evals": len(fens),
        "win_probabilities": sum(f[0] for f in last.values()),
    }


# ---------------------------------------------------------------------------
# index corpus
# ---------------------------------------------------------------------------

_VOCAB = (
    "a batch big column data dup fast filter group hash index join key line "
    "merge order part query row scan slow small sort spark stream table value "
    "window agg cache page shard token plan stage task node file block range "
    "bucket probe list vector cosine score rank term doc text word split load "
    "store write read commit log event time clock move game board piece elo"
).split()
DIM = 64
LABELS = 8


def index_corpus(seed: int, n_docs: int, n_vecs: int):
    """-> (documents rows, embeddings rows) as lists of tuples:
    (doc_id, text) with Zipf-distributed words, and (vec_id,
    embedding, label): LABELS unit-norm centres, each with sub-centres
    of five vectors, so a vector's exact top-5 is its own sub-centre
    group and IVF recall measures the index, not ties in the data."""
    rng = random.Random(seed * 7919 + 1)
    weights = [1.0 / (i + 1) ** 0.9 for i in range(len(_VOCAB))]
    vocab = list(_VOCAB)
    rng.shuffle(vocab)
    docs = []
    for i in range(n_docs):
        n = 20 + (i * 37) % 61  # 20..80 words, same multiset for every seed
        docs.append((i, " ".join(rng.choices(vocab, weights, k=n))))

    def unit(v):
        norm = math.sqrt(sum(x * x for x in v))
        return [x / norm for x in v]

    centres = [unit([rng.gauss(0, 1) for _ in range(DIM)]) for _ in range(LABELS)]
    n_sub = max(1, n_vecs // 5)  # five vectors per sub-centre
    subs = []
    for j in range(n_sub):
        c = centres[j % LABELS]
        subs.append([x + rng.gauss(0, 0.12) for x in c])
    vecs = []
    for i in range(n_vecs):
        j = i % n_sub
        v = [round(x + rng.gauss(0, 0.02), 6) for x in subs[j]]
        vecs.append((i, v, j % LABELS))
    return docs, vecs
