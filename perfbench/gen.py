"""Seeded input generators for the benchmark.

Every generator takes a ``random.Random`` (or a seed) and writes only under
the output directory it is given. The same seed gives byte-identical files;
each generator also returns the ground truth the output checks compare
against, so no check has to trust the program under test.

- :func:`openings_dimension` — a Lichess-sized openings table (~3.4k lines)
  built as a tree, so lines nest as prefixes of each other, with a share of
  equal-ply ties (same ``pgn``, different ``eco``/``name``).
- :func:`pgn_corpus` — PGN sources whose movetext carries comments, nested
  variations, NAGs, glyphs, glued move numbers and ``%`` escape lines, with
  ``?`` Elo values, invalid TimeControl values, pre-set Opening tags and
  partial/unknown dates at the rates given.
- :func:`jsonl_corpus` — a document corpus with planted near-duplicate
  clusters, corrupt lines and a spread of quality scores.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from pathlib import Path

LICHESS_OPENINGS = 3400

_FILES = "abcdefgh"
_PIECES = ("N", "B", "R", "Q", "K")
_FAMILIES = (
    "Sicilian Defense", "French Defense", "Caro-Kann Defense", "Ruy Lopez",
    "Italian Game", "Queen's Gambit Declined", "Slav Defense", "King's Indian Defense",
    "Nimzo-Indian Defense", "English Opening", "Dutch Defense", "Scandinavian Defense",
    "Pirc Defense", "Alekhine Defense", "Scotch Game", "Vienna Game",
    "Catalan Opening", "Grunfeld Defense", "Benoni Defense", "Reti Opening",
)
_VARIANTS = (
    "Main Line", "Najdorf Variation", "Exchange Variation", "Advance Variation",
    "Closed", "Open", "Accelerated", "Modern Variation", "Classical Variation",
    "Fianchetto", "Gambit Accepted", "Gambit Declined", "Attack", "Counterattack",
)
_WORDS = (
    "the", "and", "of", "is", "a", "engine", "lake", "partition", "game", "opening",
    "board", "castle", "pawn", "knight", "bishop", "rook", "queen", "king", "move",
    "analysis", "database", "tournament", "rating", "player", "club", "match", "round",
    "endgame", "tactic", "strategy", "gambit", "defense", "attack", "position", "file",
    "diagonal", "centre", "tempo", "sacrifice", "exchange", "zugzwang", "stalemate",
    "notation", "archive", "record", "history", "master", "grandmaster", "study",
)


def _san(rng: random.Random) -> str:
    """One SAN-shaped ply token. Legality does not matter to the pipeline:
    enrichment is substring matching over normalized move text."""
    r = rng.random()
    if r < 0.03:
        return rng.choice(("O-O", "O-O-O"))
    sq = f"{rng.choice(_FILES)}{rng.randint(1, 8)}"
    if r < 0.45:
        tok = sq
    elif r < 0.55:
        tok = f"{rng.choice(_FILES)}x{sq}"
    else:
        tok = f"{rng.choice(_PIECES)}{'x' if rng.random() < 0.2 else ''}{sq}"
    return tok + ("+" if rng.random() < 0.05 else "")


def _uci(rng: random.Random) -> str:
    return "".join(f"{rng.choice(_FILES)}{rng.randint(1, 8)}" for _ in range(2))


def clean_movetext(plies: list[str]) -> str:
    """The openings-dataset move format: ``1. e4 e5 2. Nf3`` — what the
    program's move normalizer must produce for a game with these plies."""
    parts: list[str] = []
    for k, ply in enumerate(plies):
        if k % 2 == 0:
            parts.append(f"{k // 2 + 1}.")
        parts.append(ply)
    return " ".join(parts)


@dataclass(frozen=True)
class Opening:
    eco: str
    name: str
    plies: tuple[str, ...]
    uci: str

    @property
    def pgn(self) -> str:
        return clean_movetext(list(self.plies))

    @property
    def ply(self) -> int:
        return len(self.uci.split(" "))


def openings_dimension(rng: random.Random, n_lines: int = LICHESS_OPENINGS,
                       tie_share: float = 0.03) -> list[Opening]:
    """A tree of opening lines: each new line extends an existing one by
    1-3 plies, so shorter lines are prefixes of longer ones. About
    ``tie_share`` of the lines repeat an existing ``pgn`` under another
    eco/name, which makes equal-ply ties the tie-break must settle."""
    roots = ["e4", "d4", "c4", "Nf3", "g3", "b3", "f4", "Nc3", "e3", "d3"]
    lines: list[tuple[str, ...]] = [(r,) for r in roots]
    seen = set(lines)
    n_base = int(n_lines * (1 - tie_share))
    while len(lines) < n_base:
        parent = lines[min(int(rng.expovariate(1 / (len(lines) / 4))), len(lines) - 1)]
        if len(parent) >= 18:
            continue
        child = parent + tuple(_san(rng) for _ in range(rng.randint(1, 3)))
        if child not in seen:
            seen.add(child)
            lines.append(child)
    out: list[Opening] = []
    for i, plies in enumerate(lines):
        fam = _FAMILIES[_hash_str(plies[:2]) % len(_FAMILIES)]
        name = fam if len(plies) <= 2 else f"{fam}: {rng.choice(_VARIANTS)} {i}"
        eco = f"{'ABCDE'[_hash_str(plies[:1]) % 5]}{rng.randint(0, 99):02d}"
        out.append(Opening(eco, name, plies, " ".join(_uci(rng) for _ in plies)))
    while len(out) < n_lines:
        base = rng.choice(out[len(roots):])
        out.append(Opening(f"{base.eco[0]}{rng.randint(0, 99):02d}",
                           f"{base.name} (transposition {len(out)})", base.plies, base.uci))
    rng.shuffle(out)
    return out


def _hash_str(parts) -> int:
    """A stable small hash (Python's ``hash`` is salted per process)."""
    h = 2166136261
    for ch in "\x1f".join(parts):
        h = ((h ^ ord(ch)) * 16777619) & 0xFFFFFFFF
    return h


def write_openings(openings: list[Opening], out_dir: Path) -> Path:
    """The dimension as one Parquet file with the Lichess dataset's columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir.mkdir(parents=True, exist_ok=True)
    table = pa.table({
        "eco": [o.eco for o in openings],
        "name": [o.name for o in openings],
        "pgn": [o.pgn for o in openings],
        "uci": [o.uci for o in openings],
    })
    path = out_dir / "openings.parquet"
    pq.write_table(table, path)
    return path


def top1_opening(clean: str, openings: list[Opening]) -> Opening | None:
    """Reference enrichment: the longest opening whose pgn is contained in
    ``clean``, ties broken by (ply DESC, eco ASC, name ASC)."""
    best = None
    for o in openings:
        if o.pgn in clean:
            key = (-o.ply, o.eco, o.name)
            if best is None or key < best[0]:
                best = (key, o)
    return None if best is None else best[1]


@dataclass
class Game:
    site: str
    source: str
    plies: list[str]
    date: str
    preset: tuple[str, str] | None  # (ECO, Opening) tags already on the game

    @property
    def clean(self) -> str:
        return clean_movetext(self.plies)

    @property
    def lake_eligible(self) -> bool:
        """Full date in year 1500 or later — what the export filter keeps."""
        y, m, d = self.date.split(".")
        return y.isdigit() and m.isdigit() and d.isdigit() and int(y) >= 1500


@dataclass
class PgnCorpus:
    games: list[Game] = field(default_factory=list)
    bytes: int = 0


def _decorate(plies: list[str], rng: random.Random) -> str:
    """Raw PGN movetext for ``plies``: move numbers (some glued), comments,
    nested variations, NAGs, glyphs, ``%`` escape lines, line wrapping."""
    toks: list[str] = []
    need_black_num = False
    for k, ply in enumerate(plies):
        n = k // 2 + 1
        tok = ply
        if rng.random() < 0.04:
            tok += rng.choice(("!", "?", "!?", "?!", "!!"))
        if k % 2 == 0:
            toks.append(f"{n}.{tok}" if rng.random() < 0.15 else f"{n}. {tok}")
        elif need_black_num:
            toks.append(f"{n}...{tok}" if rng.random() < 0.5 else f"{n}... {tok}")
        else:
            toks.append(tok)
        need_black_num = False
        r = rng.random()
        if r < 0.05:
            toks.append(f"${rng.randint(1, 20)}")
        elif r < 0.10:
            toks.append("{ " + " ".join(rng.choices(_WORDS, k=rng.randint(1, 6))) + " }")
            need_black_num = k % 2 == 0
        elif r < 0.13:
            inner = " ".join(_san(rng) for _ in range(rng.randint(1, 4)))
            if rng.random() < 0.4:
                inner += " ( " + " ".join(_san(rng) for _ in range(2)) + " )"
            toks.append(f"( {n}... {inner} )" if k % 2 == 0 else f"( {inner} )")
            need_black_num = k % 2 == 0
    lines, cur = [], ""
    for t in toks:
        if len(cur) + len(t) + 1 > 79:
            lines.append(cur)
            cur = t
            if rng.random() < 0.02:
                lines.append("% escaped line: " + " ".join(rng.choices(_WORDS, k=3)))
        else:
            cur = f"{cur} {t}" if cur else t
    lines.append(cur)
    return "\n".join(lines)


@dataclass(frozen=True)
class Source:
    """A PGN source. ``monthly`` sources are one month's server dump, as
    Lichess publishes them; the others (over-the-board databases) spread
    over decades. ``partial_rate`` is the share of partial or unknown
    ``UTCDate`` values (``????.??.??``, ``2019.??.??``, ``2019.03.??``)."""

    monthly: bool = True
    partial_rate: float = 0.0


def _date(rng: random.Random, src: Source, month: tuple[int, int], historical_rate: float) -> str:
    r = rng.random()
    if r < src.partial_rate:
        return rng.choice(("????.??.??", f"{rng.randint(1990, 2023)}.??.??",
                           f"{rng.randint(1990, 2023)}.{rng.randint(1, 12):02d}.??"))
    if r < src.partial_rate + historical_rate:
        return f"{rng.randint(1400, 1499)}.{rng.randint(1, 12):02d}.{rng.randint(1, 28):02d}"
    y, m = month if src.monthly else (rng.randint(1990, 2024), rng.randint(1, 12))
    return f"{y}.{m:02d}.{rng.randint(1, 28):02d}"


def pgn_corpus(rng: random.Random, openings: list[Opening], out_dir: Path,
               sources: dict[str, Source], games_per_source: int,
               preset_share: float = 0.15, historical_rate: float = 0.01) -> PgnCorpus:
    """Write ``games_per_source`` games for each source into
    ``out_dir/<source>/games.pgn``. ``historical_rate`` of the games carry
    a full date before 1500, which the lake's hygiene filter drops."""
    corpus = PgnCorpus()
    # openings weighted towards short, popular lines, as real play is
    weights = [1.0 / o.ply for o in openings]
    for source, spec in sources.items():
        month = (rng.randint(2013, 2024), rng.randint(1, 12))
        src_dir = out_dir / source
        src_dir.mkdir(parents=True, exist_ok=True)
        chunks: list[str] = []
        for i in range(games_per_source):
            r = rng.random()
            if r < 0.03:
                plies = ["a3" if rng.random() < 0.5 else "h4"]  # off-book first move
            else:
                line = list(rng.choices(openings, weights)[0].plies)
                plies = line[: rng.randint(1, len(line))] if r < 0.15 else line
            plies += [_san(rng) for _ in range(rng.randint(8, 70))]
            date = _date(rng, spec, month, historical_rate)
            preset = None
            if rng.random() < preset_share:
                preset = (f"{rng.choice('ABCDE')}{rng.randint(0, 99):02d}",
                          f"Preset {rng.choice(_FAMILIES)}")
            g = Game(f"https://lichess.org/{source}{i:06d}", source, plies, date, preset)
            corpus.games.append(g)
            chunks.append(_game_text(g, rng))
        path = src_dir / "games.pgn"
        data = "\n".join(chunks).encode()
        path.write_bytes(data)
        corpus.bytes += len(data)
    return corpus


def _game_text(g: Game, rng: random.Random) -> str:
    result = rng.choice(("1-0", "0-1", "1/2-1/2"))
    elo = lambda: "?" if rng.random() < 0.03 else str(rng.randint(800, 2900))  # noqa: E731
    tc = rng.choice(("300+0", "180+2", "600+5", "60+0", "40/7200:3600", "-", "?"))
    if rng.random() < 0.02:
        tc = rng.choice(("blitz", "5 min", "300+", "1/2/3"))
    tags = [
        ("Event", rng.choice(("Rated Blitz game", "Rated Rapid game", "Casual Classical game"))),
        ("Site", g.site),
        ("White", f"player{rng.randint(1, 5000)}"),
        ("Black", f"player{rng.randint(1, 5000)}"),
        ("Result", result),
        ("UTCDate", g.date),
        ("UTCTime", f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"),
        ("WhiteElo", elo()),
        ("BlackElo", elo()),
        ("TimeControl", tc),
        ("Termination", rng.choice(("Normal", "Time forfeit", "Abandoned"))),
    ]
    if rng.random() < 0.05:
        tags.append(("WhiteTitle", rng.choice(("GM", "IM", "FM", "BOT"))))
    if rng.random() < 0.2:
        tags.append(("Round", str(rng.randint(1, 9))))  # lands in extra_tags
    if g.preset:
        tags += [("ECO", g.preset[0]), ("Opening", g.preset[1])]
    head = "\n".join(f'[{k} "{v}"]' for k, v in tags)
    return f"{head}\n\n{_decorate(g.plies, rng)} {result}\n"


@dataclass
class JsonlCorpus:
    lines: int = 0
    bytes: int = 0
    corrupt: int = 0
    #: doc_id -> planted cluster id, for docs in planted near-dup clusters
    cluster_of: dict[int, int] = field(default_factory=dict)


def _doc_text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def jsonl_corpus(rng: random.Random, out_dir: Path, n_docs: int,
                 dup_share: float = 1 / 3, corrupt_share: float = 0.01,
                 n_shards: int = 4) -> JsonlCorpus:
    """``n_docs`` documents in ``n_shards`` JSONL files. About ``dup_share``
    of them sit in planted near-duplicate clusters of 2-5 docs (a base text
    with a few words changed, long enough to pass the default quality
    gate); the rest have lengths spread from a few words to a few hundred,
    so the gate keeps some and drops others. ``corrupt_share`` of the
    lines are not valid JSON."""
    out_dir.mkdir(parents=True, exist_ok=True)
    corpus = JsonlCorpus()
    docs: list[str] = []
    doc_id = 0
    cluster = 0
    while doc_id < n_docs:
        if rng.random() < dup_share / 3.5:
            base = _doc_text(rng, rng.randint(80, 200)).split(" ")
            for _ in range(rng.randint(2, 5)):
                words = list(base)
                for _ in range(max(1, len(words) // 40)):
                    words[rng.randrange(len(words))] = rng.choice(_WORDS)
                corpus.cluster_of[doc_id] = cluster
                docs.append(_doc_json(doc_id, " ".join(words), rng))
                doc_id += 1
            cluster += 1
        else:
            n = int(rng.lognormvariate(3.5, 1.0)) + 2
            docs.append(_doc_json(doc_id, _doc_text(rng, min(n, 400)), rng))
            doc_id += 1
    for i in range(len(docs)):
        if rng.random() < corrupt_share:
            docs[i] = docs[i][: rng.randint(5, 40)] + "<<truncated"
            corpus.corrupt += 1
            corpus.cluster_of.pop(i, None)
    shards = [docs[i::n_shards] for i in range(n_shards)]
    for k, shard in enumerate(shards):
        data = ("\n".join(shard) + "\n").encode()
        (out_dir / f"part-{k:03d}.jsonl").write_bytes(data)
        corpus.bytes += len(data)
    corpus.lines = len(docs)
    return corpus


def _doc_json(doc_id: int, text: str, rng: random.Random) -> str:
    return json.dumps({"doc_id": doc_id, "text": text, "lang": "en",
                       "source": rng.choice(("web", "books", "forum"))})
