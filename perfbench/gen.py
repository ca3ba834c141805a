"""Seeded transcript corpora for the benchmark, owned by the benchmark.

The generator does not call the program (``sources.transcripts``), so a
change to the program cannot change the input.  Every corpus is a list
of rows in the ``input_hint`` schema (``conv_id string, turn_idx int,
role string, text string, tool string, ts timestamp``) plus the planted
mention count of every surface form, which the output checks compare
against.

Aliases are planted only between template words that are lowercase or
punctuation, so a planted alias never runs into a longer alias and no
template word is itself an alias: the matcher finds exactly the planted
mentions.
"""

from __future__ import annotations

import collections
import os
import random
from dataclasses import dataclass, field

# The program's default gazetteer (kg_build plants these, because
# run_checkpointed takes no alias list).  Copied, not imported,
# so that the input stays fixed when the program's gazetteer changes;
# the per-surface output check then reports the change.
DEFAULT_ALIASES = (
    "John Hope Franklin", "Franklin, John Hope", "J.H. Franklin",
    "Marie Curie", "Curie, Marie", "M. Curie",
    "Alan Turing", "Turing, Alan", "A.M. Turing",
    "Ada Lovelace", "Lovelace, Ada", "Countess Ada Lovelace",
    "Amsterdam", "Amsterdam Netherlands", "Amsterdam NL",
    "Den Haag", "The Hague", "Den Haag Zuid-Holland",
    "Apache Spark", "Spark engine", "Apache Spark engine",
    "Apache Iceberg", "Iceberg tables", "Apache Iceberg tables",
    "Koninklijke Bibliotheek", "Koninklijke Bibliotheek KB",
    "Seecr", "Seecr Seek You Too",
)

# (template, number of alias slots); slots are filled in order
TEMPLATES = (
    ("We discussed {} together with {} in depth.", 2),
    ("Tell me about {}; also compare with {} please.", 2),
    ("The report covers {} and mentions {} briefly.", 2),
    ("According to {} the work of {} was essential.", 2),
    ("Notes: {} visited {} last spring.", 2),
    ("Is {} related to anything here?", 1),
    ("please summarise what {} wrote.", 1),
    ("nothing to link in this turn, just a question.", 0),
)
ROLES = ("user", "assistant", "tool")
TOOLS = ("search", "calculator", "retrieval", "linker")
TS0 = 1_700_000_000_000_000  # microseconds since the epoch
ZIPF_S = 1.1        # skew of alias choice, and of the serve loop's subjects
N_FILES = 4         # parquet files per input table

_SYLLABLES = (
    "ka", "ro", "mi", "ta", "ne", "lo", "su", "vi", "da", "pe", "zo", "ri",
    "ba", "lu", "fe", "gi", "ho", "ja", "ku", "me", "no", "pa", "qui", "se",
    "to", "ve", "wa", "xe", "yo", "ze", "bra", "cle", "dro", "fla", "gru",
    "pla", "tri", "sto", "mar", "len", "dor", "kin", "tes", "val", "rus",
)


@dataclass
class Corpus:
    rows: list = field(default_factory=list)
    planted: collections.Counter = field(default_factory=collections.Counter)
    # (conv_id, surface) pairs, for the object-bound lookup checks
    conv_surfaces: set = field(default_factory=set)

    @property
    def n_turns(self) -> int:
        return len(self.rows)

    @property
    def n_mentions(self) -> int:
        return sum(self.planted.values())


def entity_aliases(seed: int, n_entities: int) -> list[list[str]]:
    """``n_entities`` synthetic people, three alias variants each
    (``First Last``, ``Last, First``, ``F. Last``), every alias distinct.
    Last names are unique, so the initial variant is unique too."""
    rng = random.Random("entities:%d" % seed)
    used_last: set[str] = set()
    out = []
    while len(out) < n_entities:
        first = "".join(rng.choice(_SYLLABLES) for _ in range(2)).capitalize()
        last = "".join(rng.choice(_SYLLABLES)
                       for _ in range(rng.choice((3, 4)))).capitalize()
        if last in used_last:
            continue
        used_last.add(last)
        out.append(["%s %s" % (first, last), "%s, %s" % (last, first),
                    "%s. %s" % (first[0], last)])
    return out


def zipf_cum(n: int) -> list[float]:
    """Cumulative Zipf(``ZIPF_S``) weights of ranks 1..n."""
    acc, out = 0.0, []
    for rank in range(n):
        acc += 1.0 / (rank + 1) ** ZIPF_S
        out.append(acc)
    return out


def make_corpus(seed: int, n_convs: int, turns_per_conv: int,
                aliases: list[str], conv_offset: int = 0) -> Corpus:
    """Conversations ``conv-<n>`` for n in [offset, offset + n_convs).

    Alias choice is Zipf-skewed (rank order shuffled by the seed), so a
    few entities are hot and most are rare.  The first ``len(aliases)``
    slots cycle through every alias, so every surface is planted at
    least once when the corpus has enough slots."""
    rng = random.Random("corpus:%d:%d" % (seed, conv_offset))
    order = list(aliases)
    rng.shuffle(order)
    cum = zipf_cum(len(order))
    corpus = Corpus()
    slot = 0
    for conv in range(conv_offset, conv_offset + n_convs):
        conv_id = "conv-%08d" % conv
        for turn in range(turns_per_conv):
            template, n_slots = TEMPLATES[rng.randrange(len(TEMPLATES))]
            picked = []
            for _ in range(n_slots):
                if slot < len(order):
                    alias = order[slot]
                else:
                    alias = rng.choices(order, cum_weights=cum)[0]
                slot += 1
                picked.append(alias)
                corpus.planted[alias] += 1
                corpus.conv_surfaces.add((conv_id, alias))
            role = ROLES[rng.randrange(3)]
            tool = TOOLS[rng.randrange(4)] if role == "tool" else None
            ts = TS0 + (conv * 3600 + turn * 30) * 1_000_000
            corpus.rows.append(
                (conv_id, turn, role, template.format(*picked), tool, ts))
    return corpus


def write_parquet(rows: list, path: str) -> None:
    """Write rows in the ``input_hint`` schema as ``N_FILES`` parquet
    files (round-robin by conversation, so each file holds whole
    conversations)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()),
        ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ])
    os.makedirs(path, exist_ok=True)
    parts = [[] for _ in range(N_FILES)]
    for row in rows:
        parts[int(row[0][5:]) % N_FILES].append(row)
    for i, part in enumerate(parts):
        cols = list(zip(*part)) if part else [[] for _ in schema.names]
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema)
        pq.write_table(table, os.path.join(path, "part-%05d.parquet" % i))
