"""Seeded transcript generator for the benchmark workloads.

Every input the program sees comes from here: the same seed and knobs give
byte-identical tables. Turns are one or two sentences; most carry a
"<subject> <predicate> <object>." fact over a Zipf-popular person-name
vocabulary, some are filler with no relation predicate.

Knobs (``Knobs``): conversation count, mean turns per conversation (Poisson),
name-vocabulary size, Zipf exponent, the share of subjects that are the one
head form ("Primary User"), and for micro-batch streams the shares of new,
continuing and re-delivered turns.

Names are real given names and surnames, so first letters and lengths vary
the way they do in transcripts. A known pathological input, kept out of the
workloads on purpose: a vocabulary whose names all share one prefix
(``Fn<i> Ln<i>``) puts every node into one fuzzy-blocking block in
``canonicalize.match_edges``; at 20k names a backfill then runs for more
than ten minutes.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Real given names and surnames with varied first letters and lengths. Their
# cross product (~45k pairs) is the pool a name vocabulary is drawn from.
FIRST = """Aaliyah Abdul Ada Adrian Agnes Ahmed Aiko Alan Alejandro Alice Amara
Amir Ana Andrei Anika Ansel Arjun Astrid Aurora Ayesha Beatriz Benedict
Bianca Boris Brigid Bruno Caleb Camille Carmen Cedric Chiara Chloe Cyrus
Dalia Damien Daniela Darius Deborah Declan Dmitri Dolores Eamon Edith Elena
Elias Elif Emeka Esther Ezra Farah Fatima Felix Fiona Florian Freya Gabriel
Gemma Gideon Greta Gustavo Hana Hamid Harriet Hector Helga Hiroshi Hugo
Ibrahim Ida Ignacio Ilse Imogen Ingrid Isaac Ivan Jakob Jamal Janelle Javier
Jia Joaquin Jonas Juno Kai Kalinda Kamal Katja Keiko Kenji Kofi Lars Leila
Leon Lidia Liam Lorenzo Lucia Magnus Malik Mara Mateo Matilda Meera Milan
Mira Nadia Naveen Nell Niamh Nikolai Noor Odette Olga Omar Orla Oscar Otto
Paloma Pavel Petra Priya Quentin Quinn Rafael Rania Ravi Rosa Rowan Ruth
Saanvi Salma Samuel Selin Sergei Shira Silas Sofia Sven Tamar Tariq Thea
Tobias Tomasz Uma Ulrich Ursula Valentina Vera Viktor Vivian Wanjiru Wendell
Wilhelmina Xavier Ximena Yara Yusuf Yvonne Zainab Zane Zofia""".split()

LAST = """Abara Abernathy Achterberg Adeyemi Agarwal Ahlberg Alvarez Amundsen
Andersson Arslan Asante Baptiste Barros Becker Bergstrom Bhatt Bianchi Blanco
Bondarenko Brennan Calloway Castellanos Chakraborty Chen Cho Coelho Costa
Cruz Dalgaard Dasgupta Delacroix Diallo Dimitrov Dominguez Dubois Eberhardt
Egwu Eklund Esposito Estrada Falk Farouk Fernandes Figueroa Fitzgerald
Fontaine Fujimoto Gallagher Garcia Gashi Gonzaga Greenberg Gupta Haddad
Halvorsen Hashemi Herrera Hoffmann Holm Horvath Ibarra Ikeda Iqbal Ivanova
Jaramillo Jensen Jovanovic Jung Kapoor Karlsson Kaur Kowalski Krishnan Kuznetsov
Lamothe Larsen Laurent Lindqvist Lombardi Lopez Lundgren Macharia Madsen
Malhotra Marchetti Martinez Matsumoto Mbeki Mendoza Moreau Morozov Mwangi
Nakamura Nascimento Navarro Nguyen Nielsen Novak Nowak Nyberg Obi Okafor Okonkwo
Oliveira Olsen Onyango Ortega Osei Ozturk Pacheco Papadopoulos Park Pereira
Petrov Phillips Pham Quiroga Rahman Ramos Rasmussen Reyes Richter Rinaldi
Rossi Ruiz Saarinen Sahin Salazar Santos Sato Schneider Sharma Silva Sokolov
Sorensen Suzuki Svensson Takahashi Tanaka Tavares Thorsen Toivonen Torres
Tran Uchida Ueda Umarov Urquhart Valdez Vargas Vasquez Verhoeven Vogel Volkov
Wagner Walczak Watanabe Weiss Wojcik Xiong Yamamoto Yilmaz Yoon Zamora Zhang
Zielinski Zimmermann""".split()

# Objects that extraction types as Org (exact vocabulary) or Project (prefix).
ORGS = ["Meridian Labs", "Acme Corp", "Globex", "Initech", "Umbrella Group", "Stark Industries"]
PROJECT_WORDS = """Apollo Borealis Cascade Dynamo Ember Falcon Granite Harbor Iris
Juniper Kestrel Lantern Monsoon Nimbus Onyx Pioneer Quasar Redwood Sierra
Tundra Umber Vanguard Willow Zenith""".split()

PREDICATES = [
    "works with", "reports to", "mentors", "collaborates with", "advises",
    "leads", "supports", "is employed by", "manages", "founded",
]

FILLER = [
    "Thanks, that is helpful.",
    "Can you check the calendar for next week?",
    "I will send the notes after lunch.",
    "Please summarise the last meeting.",
    "Noted, I will follow up tomorrow.",
    "Let me look into the budget numbers.",
    "What time is the review on Friday?",
    "Sounds good to me.",
]

HEAD_FORM = "Primary User"


@dataclass(frozen=True)
class Knobs:
    convs: int = 1000
    mean_turns: float = 50.0
    names: int = 2000
    zipf: float = 1.1
    head_share: float = 0.30
    # micro-batch streams only
    batch_turns: int = 2000
    new_share: float = 0.5
    continue_share: float = 0.45
    redeliver_share: float = 0.05

    def as_dict(self) -> dict:
        return asdict(self)


def name_vocab(rng: np.random.Generator, size: int) -> list[tuple[str, str]]:
    """``size`` distinct (first, last) pairs; rank 0 is the most popular."""
    pairs = rng.choice(len(FIRST) * len(LAST), size=size, replace=False)
    return [(FIRST[p // len(LAST)], LAST[p % len(LAST)]) for p in pairs]


class TurnSource:
    """Renders turn texts for one seeded vocabulary and popularity law."""

    def __init__(self, rng: np.random.Generator, knobs: Knobs):
        self.rng = rng
        self.k = knobs
        self.vocab = name_vocab(rng, knobs.names)
        w = 1.0 / np.arange(1, knobs.names + 1) ** knobs.zipf
        self.cdf = np.cumsum(w / w.sum())

    def _name_idx(self, n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(self.cdf, self.rng.random(n)), self.k.names - 1)

    def _subject(self, idx: int, variant: int) -> str:
        first, last = self.vocab[idx]
        if variant == 0:
            return f"Dr. {first} {last}"
        if variant == 1:
            return f"{last}, {first}"
        if variant == 2:
            return f"{first} {last}".upper()
        return f"{first} {last}"

    def sentences(self, n: int) -> list[str]:
        rng = self.rng
        kind = rng.random(n)
        head = rng.random(n) < self.k.head_share
        subj_idx = self._name_idx(n)
        variant = rng.integers(0, 8, n)  # 0..2 variant forms, 3..7 plain
        pred = rng.integers(0, len(PREDICATES), n)
        obj_kind = rng.random(n)
        obj_idx = self._name_idx(n)
        org = rng.integers(0, len(ORGS), n)
        proj = rng.integers(0, len(PROJECT_WORDS), n)
        filler = rng.integers(0, len(FILLER), n)
        out = []
        for i in range(n):
            if kind[i] < 0.15:
                out.append(FILLER[filler[i]])
                continue
            subj = HEAD_FORM if head[i] else self._subject(subj_idx[i], variant[i])
            if obj_kind[i] < 0.5:
                first, last = self.vocab[obj_idx[i]]
                obj = f"{first} {last}"
            elif obj_kind[i] < 0.75:
                obj = ORGS[org[i]]
            else:
                obj = f"Project {PROJECT_WORDS[proj[i]]}"
            out.append(f"{subj} {PREDICATES[pred[i]]} {obj}.")
        return out

    def turn_texts(self, n: int) -> list[str]:
        two = self.rng.random(n) < 0.3
        s = self.sentences(n + int(two.sum()))
        out, j = [], 0
        for i in range(n):
            if two[i]:
                out.append(s[j] + " " + s[j + 1])
                j += 2
            else:
                out.append(s[j])
                j += 1
        return out


def _conv_id(i: int) -> str:
    return f"conv-{i:08d}"


def _table(conv_ids: list[str], turn_idx: list[int], texts: list[str], with_ts: bool) -> pa.Table:
    cols = {
        "conv_id": pa.array(conv_ids, pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(["user" if t % 2 == 0 else "assistant" for t in turn_idx], pa.string()),
        "text": pa.array(texts, pa.string()),
    }
    if with_ts:
        cols["tool"] = pa.array([None] * len(texts), pa.string())
        base = np.datetime64("2026-01-01T00:00:00", "us")
        ts = base + np.array(turn_idx, dtype="int64") * np.timedelta64(30, "s")
        cols["ts"] = pa.array(ts, pa.timestamp("us", tz="UTC"))
    return pa.table(cols)


def transcripts(seed: int, knobs: Knobs, with_ts: bool = True) -> tuple[pa.Table, TurnSource, list[int]]:
    """A transcripts table of ``knobs.convs`` conversations.

    Returns the table, the turn source (to continue the same vocabulary) and
    each conversation's length."""
    rng = np.random.default_rng(seed)
    src = TurnSource(rng, knobs)
    lengths = np.maximum(rng.poisson(knobs.mean_turns, knobs.convs), 1).tolist()
    conv_ids, turn_idx = [], []
    for c, n in enumerate(lengths):
        conv_ids.extend([_conv_id(c)] * n)
        turn_idx.extend(range(n))
    texts = src.turn_texts(len(conv_ids))
    return _table(conv_ids, turn_idx, texts, with_ts), src, lengths


class BatchStream:
    """Closed-loop micro-batches continuing a seeded store.

    Each batch has about ``batch_turns`` turns: ``new_share`` from new
    conversations, ``continue_share`` appended (dense ``turn_idx``) to stored
    conversations and ``redeliver_share`` copies of turns already delivered.
    The sequence is fixed by the seed, however many batches are taken."""

    def __init__(self, seed: int, knobs: Knobs, src: TurnSource, lengths: list[int],
                 first_table: pa.Table):
        self.rng = np.random.default_rng([seed, 1])
        self.k = knobs
        self.src = src
        self.lengths = list(lengths)
        self.delivered = [first_table.select(["conv_id", "turn_idx", "role", "text"])]

    def next(self) -> pa.Table:
        k, rng = self.k, self.rng
        conv_ids: list[str] = []
        turn_idx: list[int] = []
        stored = len(self.lengths)  # continued turns go to these, one run each
        n_new = int(k.batch_turns * k.new_share)
        while n_new > 0:
            n = min(max(int(rng.poisson(k.mean_turns)), 1), n_new)
            c = len(self.lengths)
            self.lengths.append(n)
            conv_ids.extend([_conv_id(c)] * n)
            turn_idx.extend(range(n))
            n_new -= n
        n_cont = int(k.batch_turns * k.continue_share)
        for c in rng.permutation(stored).tolist():
            if n_cont <= 0:
                break
            n = min(int(rng.integers(2, 12)), n_cont)
            start = self.lengths[c]
            self.lengths[c] += n
            conv_ids.extend([_conv_id(c)] * n)
            turn_idx.extend(range(start, start + n))
            n_cont -= n
        fresh = _table(conv_ids, turn_idx, self.src.turn_texts(len(conv_ids)), with_ts=False)
        n_re = int(k.batch_turns * k.redeliver_share)
        past = pa.concat_tables(self.delivered)
        pick = np.sort(rng.choice(past.num_rows, size=min(n_re, past.num_rows), replace=False))
        batch = pa.concat_tables([fresh, past.take(pick)])
        self.delivered.append(fresh)
        return batch

    def all_delivered(self) -> pa.Table:
        return pa.concat_tables(self.delivered)


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)
