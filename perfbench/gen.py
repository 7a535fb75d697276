"""Seeded input generators with exact expected answers.

Every generator takes the seed as an argument, is pure Python (no Spark)
and returns both the program's input and the answer the benchmark checks
the program's output against. The expected answers are computed here from
the generated values with the documented semantics of the package, never
by calling the package.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from datetime import date, timedelta
from decimal import ROUND_HALF_UP, Decimal

# --------------------------------------------------------------------------
# Odds snapshots (TheOddsAPI shape)
# --------------------------------------------------------------------------

BOOKS = ("BetAlpha", "BetBravo", "BetCharlie", "BetDelta", "BetEcho",
         "BetFoxtrot", "BetGolf", "BetHotel")
MARKETS = ("h2h", "spreads", "totals")


def _round2_half_up(x: float) -> float:
    """Spark's ``round(x, 2)`` on a double: HALF_UP on the shortest repr."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP))


def _american(dec: float) -> str:
    """Decimal odds as a signed American price string, e.g. ``"+120"``."""
    if dec >= 2.0:
        return f"+{int(round((dec - 1.0) * 100))}"
    return f"-{int(round(100.0 / (dec - 1.0)))}"


def _v2_valid(price: str) -> bool:
    """V2 validity (``standardize_odds``): the raw price, ``+`` stripped and
    read as decimal odds, must be > 1."""
    try:
        return float(price.lstrip("+")) > 1.0
    except ValueError:
        return False


@dataclass
class OddsSnapshot:
    payload: str  # JSON array of games
    arbs: dict[str, float]  # V1 synthetic game_id -> margin (2 dp)
    arb_rows: set[tuple]  # (game_id, outcome, best_price, margin)
    valid_outcomes: int  # rows the V2 EV table must hold
    outcome_rows: int  # all outcome objects in the snapshot


def odds_snapshot(seed: int, n_games: int, arb_share: float = 0.03) -> OddsSnapshot:
    """One snapshot of ``n_games`` games, each quoted by up to eight books
    over h2h (decimal strings), spreads and totals (American ``"+120"``
    strings). About 10% of (book, market) pairs are missing. A share of
    games carries a planted two-outcome h2h arbitrage spread over two
    books; every other game keeps a bookmaker margin on its best prices,
    so the planted set is the whole answer."""
    rng = random.Random(seed)
    games, arbs, arb_rows = [], {}, set()
    valid = rows = 0
    n_arb = max(1, int(n_games * arb_share))
    planted = set(rng.sample(range(n_games), n_arb))
    t0 = 1_767_225_600  # 2026-01-01T00:00:00Z
    for g in range(n_games):
        home, away = f"Home{seed % 1000:03d}x{g:05d}", f"Away{seed % 1000:03d}x{g:05d}"
        commence = _iso(t0 + 600 * g)
        p = rng.uniform(0.3, 0.7)
        books = rng.sample(BOOKS, rng.randint(4, len(BOOKS)))
        h2h: dict[str, tuple[str, str]] = {}
        bookmakers = []
        for b in books:
            vig = rng.uniform(0.04, 0.09)
            pb = p + rng.uniform(-0.01, 0.01)
            markets = []
            for m in MARKETS:
                # h2h is always quoted by the first two books so a planted
                # arbitrage has its two legs.
                if rng.random() < 0.1 and not (m == "h2h" and b in books[:2]):
                    continue
                if m == "h2h":
                    dh = _floor2(1.0 / (pb * (1 + vig)))
                    da = _floor2(1.0 / ((1 - pb) * (1 + vig)))
                    h2h[b] = (f"{dh:.2f}", f"{da:.2f}")
                    outs = [{"name": home, "price": h2h[b][0]},
                            {"name": away, "price": h2h[b][1]}]
                elif m == "spreads":
                    pt = round(rng.uniform(1, 9)) + 0.5
                    q = rng.uniform(0.45, 0.55)
                    outs = [{"name": home, "price": _american(1 / (q * (1 + vig))),
                             "point": -pt},
                            {"name": away, "price": _american(1 / ((1 - q) * (1 + vig))),
                             "point": pt}]
                else:
                    pt = round(rng.uniform(200, 240)) + 0.5
                    q = rng.uniform(0.45, 0.55)
                    outs = [{"name": "Over", "price": _american(1 / (q * (1 + vig))),
                             "point": pt},
                            {"name": "Under", "price": _american(1 / ((1 - q) * (1 + vig))),
                             "point": pt}]
                markets.append({"key": m, "outcomes": outs})
            bookmakers.append({"title": b, "last_update": commence, "markets": markets})
        if g in planted:
            # Boost one leg at each of two books so the best prices sum
            # to 1 - margin/100 in implied probability.
            margin = rng.uniform(1.0, 4.0)
            total = 1.0 - margin / 100.0
            dh, da = _floor2(1.0 / (p * total)), _floor2(1.0 / ((1 - p) * total))
            b1, b2 = books[0], books[1]
            h2h[b1] = (f"{dh:.2f}", h2h[b1][1])
            h2h[b2] = (h2h[b2][0], f"{da:.2f}")
            for bk in bookmakers:
                if bk["title"] in (b1, b2):
                    for mk in bk["markets"]:
                        if mk["key"] == "h2h":
                            mk["outcomes"][0]["price"] = h2h[bk["title"]][0]
                            mk["outcomes"][1]["price"] = h2h[bk["title"]][1]
        for bk in bookmakers:
            for mk in bk["markets"]:
                for o in mk["outcomes"]:
                    rows += 1
                    valid += _v2_valid(o["price"])
        best_h = max(float(v[0]) for v in h2h.values())
        best_a = max(float(v[1]) for v in h2h.values())
        implied = 1.0 / best_h + 1.0 / best_a
        gid = f"{home}_vs_{away}_{commence}"
        if implied < 1.0:
            m2 = _round2_half_up((1.0 - implied) * 100.0)
            arbs[gid] = m2
            arb_rows.add((gid, home, best_h, m2))
            arb_rows.add((gid, away, best_a, m2))
        games.append({
            "id": f"g{seed}_{g}", "sport_key": "basketball_nba", "sport_title": "NBA",
            "commence_time": commence, "home_team": home, "away_team": away,
            "bookmakers": bookmakers,
        })
    assert len(arbs) == len(planted), "a non-planted game priced as arbitrage"
    return OddsSnapshot(json.dumps(games), arbs, arb_rows, valid, rows)


def _floor2(x: float) -> float:
    return int(x * 100) / 100.0


def _iso(epoch_s: int) -> str:
    from datetime import datetime, timezone

    return datetime.fromtimestamp(epoch_s, timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


# --------------------------------------------------------------------------
# Player game logs + market lines
# --------------------------------------------------------------------------


@dataclass
class PropsData:
    logs: dict[str, list]  # columns of the game-log table
    lines: dict[str, list]  # player, market_line, outcome
    n_players: int


def props_data(seed: int, n_players: int, n_games: int) -> PropsData:
    """Game logs (``player, date, points, rebounds, assists``) for
    ``n_players`` players over ``n_games`` games each, plus one market
    line per player for the next, unplayed game and its outcome."""
    rng = random.Random(seed)
    logs = {"player": [], "date": [], "points": [], "rebounds": [], "assists": []}
    lines = {"player": [], "market_line": [], "outcome": []}
    start = date(2025, 10, 21)
    for p in range(n_players):
        name = f"Player {seed % 1000:03d}-{p:05d}"
        mu_p, mu_r, mu_a = rng.uniform(6, 32), rng.uniform(2, 12), rng.uniform(1, 10)
        for g in range(n_games):
            logs["player"].append(name)
            logs["date"].append(start + timedelta(days=2 * g + rng.randint(0, 1)))
            logs["points"].append(float(max(0, round(rng.gauss(mu_p, 5)))))
            logs["rebounds"].append(float(max(0, round(rng.gauss(mu_r, 2.5)))))
            logs["assists"].append(float(max(0, round(rng.gauss(mu_a, 2)))))
        line = round(mu_p + rng.gauss(0, 2)) + 0.5
        lines["player"].append(name)
        lines["market_line"].append(line)
        lines["outcome"].append(int(rng.gauss(mu_p, 5) > line))
    return PropsData(logs, lines, n_players)


def backtest_expected(preds: list[tuple[float, float]], threshold: float = 0.55,
                      bankroll: float = 1000.0, stake: float = 10.0) -> dict:
    """pandas-free restatement of the backtest fold over (prediction, line)."""
    w = l = p = 0
    for pred, line in preds:
        if pred > line and pred > threshold:
            w += 1
        elif pred < line and (1.0 - pred) > threshold:
            l += 1
        else:
            p += 1
    final = bankroll + stake * w - stake * l
    return {"wins": w, "losses": l, "passes": p, "roi": (final - bankroll) / bankroll}


# --------------------------------------------------------------------------
# Player-prop line feed
# --------------------------------------------------------------------------


@dataclass
class LineFeed:
    seed: int
    n_games: int
    n_books: int
    n_players: int
    move_share: float = 0.04
    drift_share: float = 0.04
    dup_share: float = 0.02
    _state: dict = field(default_factory=dict)
    _book_lu: dict = field(default_factory=dict)
    _rng: random.Random | None = None
    polls: int = 0

    def next_poll(self) -> tuple[str, int, list[tuple], int]:
        """Return ``(payload, rows, planted_moves, new_line_changes)`` for
        the next poll. Each key (game, book, player) is quoted once per
        poll, plus an exact duplicate of a few outcome objects. A planted
        share of keys moves by 6-15% and a drift share by 0.5-3.5% (no
        move); the rest repeat their price. A book's ``last_update`` only
        advances when one of its keys changed, so an unchanged book
        replays its rows and the dedup drops them; ``new_line_changes``
        counts the rows the dedup keeps."""
        if self._rng is None:
            self._rng = random.Random(self.seed)
        rng, k = self._rng, self.polls
        stamp = _iso(1_767_225_600 + 60 * k)
        moves, changes, rows, games = [], 0, 0, []
        for g in range(self.n_games):
            gid = f"lf{self.seed}_{g}"
            bks = []
            for b in range(self.n_books):
                outs, changed = [], False
                for pl in range(self.n_players):
                    key = (gid, BOOKS[b], "player_points", f"P{g}-{pl}")
                    old = self._state.get(key)
                    r = rng.random()
                    if old is None:
                        new = round(rng.uniform(1.7, 2.3), 2)
                    elif r < self.move_share:
                        new = _move(rng, old, 0.06, 0.15)
                        moves.append((*key, old, new, (new - old) / abs(old) * 100.0))
                    elif r < self.move_share + self.drift_share:
                        new = _move(rng, old, 0.005, 0.035)
                    else:
                        new = old
                    changed |= new != old
                    self._state[key] = new
                    o = {"name": "Over", "description": key[3], "price": new,
                         "point": 20.5 + pl}
                    outs.append(o)
                    if rng.random() < self.dup_share:
                        outs.append(dict(o))
                if changed or (gid, b) not in self._book_lu:
                    self._book_lu[(gid, b)] = stamp
                    changes += self.n_players
                rows += len(outs)
                bks.append({"title": BOOKS[b], "last_update": self._book_lu[(gid, b)],
                            "markets": [{"key": "player_points", "outcomes": outs}]})
            games.append({"id": gid, "sport_key": "basketball_nba",
                          "commence_time": "2026-02-01T00:00:00Z",
                          "home_team": f"H{g}", "away_team": f"A{g}", "bookmakers": bks})
        self.polls += 1
        return json.dumps(games), rows, moves, changes


def _move(rng: random.Random, price: float, lo: float, hi: float) -> float:
    """A 2-dp price moved by a relative amount in ``[lo, hi]`` either way,
    re-drawn until the rounded move still lies in that band."""
    while True:
        new = round(price * (1 + rng.choice((-1, 1)) * rng.uniform(lo, hi)), 2)
        pct = abs(new - price) / price
        if lo <= pct <= hi and new > 1.01:
            return new


# --------------------------------------------------------------------------
# Curation corpus (the battery's ``documents`` table)
# --------------------------------------------------------------------------

VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "the", "value", "vector", "window", "of", "and", "to", "in", "is")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def documents(seed: int, n_docs: int, dup_share: float = 0.15) -> dict[str, list]:
    """``doc_id, text, lang, source, n_chars`` rows: 10-99 words from a
    small vocabulary, with a share of near-duplicates (an earlier
    document with one word replaced) so the pair join and the connected
    components have clusters to find."""
    rng = random.Random(seed)
    cols = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_share:
            j = rng.randrange(i)
            words = cols["text"][j].split(" ")
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            lang = cols["lang"][j]
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 99))]
            lang = rng.choice(LANGS)
        text = " ".join(words)
        cols["doc_id"].append(i)
        cols["text"].append(text)
        cols["lang"].append(lang)
        cols["source"].append(f"src{rng.randrange(20)}")
        cols["n_chars"].append(len(text))
    return cols
