"""Seeded input generator for the fuzzy-join benchmark.

Everything here is a pure function of the seed: company names drawn from
a fixed word vocabulary (the shape of the reference project's own
performance generator), typo'd copies with 1-3 random character edits,
and the planted-pair truth the recall metric is measured against.

Planted pairs pass their mapping's threshold by construction:

- levenshtein >= 75: at most 3 edits on names of at least 12
  characters, so ``lev / maxlen <= 3 / 12``;
- jaro-winkler >= 90 (batch names): one edit, re-checked with the
  benchmark's own scorer and redrawn if it ever falls short;
- levenshtein >= 80 (batch cities): one edit on cities of at least 5
  characters; countries are copied exactly.
"""

from __future__ import annotations

import random
import string
from dataclasses import dataclass

import pandas as pd

from refscore import jaro_winkler_sim, levenshtein_sim

ADJECTIVES = """
Global Advanced United National Pacific Atlantic Northern Southern Eastern
Western Central Premier Superior Dynamic Strategic Integrated Innovative
Reliable Precision Quantum Digital Creative Modern Classic Royal Imperial
Golden Silver Crystal Emerald Summit Pinnacle Apex Horizon Frontier Liberty
Heritage Evergreen Sterling Cardinal Keystone Landmark Meridian Paramount
Vanguard Titan Phoenix Falcon Eagle Harbor Valley Coastal Metro Urban
""".split()

NOUNS = """
Systems Solutions Technologies Industries Enterprises Networks Dynamics
Logistics Analytics Resources Ventures Partners Holdings Associates Group
Capital Energy Power Foods Textiles Metals Plastics Chemicals
Pharmaceuticals Devices Instruments Components Materials Structures Designs
Services Consulting Media Studios Labs Robotics Software Hardware Motors
Aerospace Marine Mining Farms Brewing Apparel Furniture Builders Outfitters
Supply Trading Imports Exports Transport Freight Shipping Storage Security
""".split()

INDUSTRIES = """
Tech Bio Agri Auto Fin Health Retail Energy Data Cloud Micro Nano Aero Geo
Hydro Solar Wind Steel Paper Glass Stone Timber Cargo Medi Pharma Info
""".split()

SUFFIXES = "Inc LLC Ltd Corp Co GmbH PLC Group Holdings Partners".split()

COUNTRIES = """
Argentina Australia Austria Belgium Brazil Canada Chile Colombia Denmark
Egypt Finland France Germany Greece India Indonesia Ireland Italy Japan
Kenya Mexico Netherlands Norway Poland Portugal Spain Sweden Switzerland
""".split()

_SYLLABLES = """
an ber cal dor el fen gar hol in jor kel lan mor nor ost par quin ros
san tor ul ven wes xan yor zel burg ford ton ville ham field port mont
""".split()

MIN_NAME_LEN = 12
MIN_CITY_LEN = 5


def _company(rng: random.Random) -> str:
    return " ".join(
        (
            rng.choice(ADJECTIVES),
            rng.choice(INDUSTRIES) + rng.choice(NOUNS).lower(),
            rng.choice(NOUNS),
            rng.choice(SUFFIXES),
        )
    )


def unique_names(rng: random.Random, n: int, taken: set) -> list:
    """``n`` new company names, none of them (case-insensitively) in
    ``taken``; adds them to ``taken``."""
    out = []
    while len(out) < n:
        name = _company(rng)
        if len(name) >= MIN_NAME_LEN and name.lower() not in taken:
            taken.add(name.lower())
            out.append(name)
    return out


def typo(rng: random.Random, s: str, edits: int, keep_prefix: int = 0) -> str:
    """Apply ``edits`` random substitutions, insertions or deletions
    (lowercase letters), never touching the first ``keep_prefix``
    characters. The result is within ``edits`` edits of ``s``."""
    chars = list(s)
    for _ in range(edits):
        op = rng.choice("sid")
        if op == "i":
            pos = rng.randint(keep_prefix, len(chars))
            chars.insert(pos, rng.choice(string.ascii_lowercase))
            continue
        pos = rng.randrange(keep_prefix, len(chars))
        if op == "d":
            del chars[pos]
        else:
            cur = chars[pos].lower()
            chars[pos] = rng.choice(string.ascii_lowercase.replace(cur, ""))
    return "".join(chars)


def _typo_unique(rng, s, edits, taken, keep_prefix=0):
    while True:
        t = typo(rng, s, edits, keep_prefix)
        if t.lower() not in taken:
            taken.add(t.lower())
            return t


@dataclass
class PairInputs:
    """One left and one right key frame, one row per distinct key."""

    left: pd.DataFrame  # l_id, l_name
    right: pd.DataFrame  # r_id, r_name
    planted: set  # {(l_id, r_id)}


def pair_inputs(seed: int, n_left: int, n_right: int) -> PairInputs:
    """``n_left`` unique names; the right side holds typo'd copies
    (1-3 edits) of ``n_right // 2`` distinct left names plus fresh
    names, shuffled."""
    rng = random.Random(seed)
    taken: set = set()
    left_names = unique_names(rng, n_left, taken)
    n_planted = n_right // 2
    sources = rng.sample(range(n_left), n_planted)
    right = [
        (_typo_unique(rng, left_names[i], rng.randint(1, 3), taken), i)
        for i in sources
    ]
    right += [(name, None) for name in unique_names(rng, n_right - n_planted, taken)]
    rng.shuffle(right)
    planted = {(src, r_id) for r_id, (_, src) in enumerate(right) if src is not None}
    return PairInputs(
        left=pd.DataFrame({"l_id": range(n_left), "l_name": left_names}),
        right=pd.DataFrame(
            {"r_id": range(n_right), "r_name": [name for name, _ in right]}
        ),
        planted=planted,
    )


@dataclass
class BatchInputs:
    """A reference table and a stream of incoming batches."""

    reference: pd.DataFrame  # ref_id, ref_name, ref_city, ref_country
    batches: list  # of DataFrame: b_id, b_name, b_city, b_country
    planted: list  # per batch: {(b_id, ref_id)}


def _cities(rng: random.Random, n: int) -> list:
    out: set = set()
    while len(out) < n:
        city = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if len(city) >= MIN_CITY_LEN:
            out.add(city.capitalize())
    return sorted(out)


def batch_inputs(
    seed: int,
    n_reference: int,
    n_names: int,
    n_cities: int,
    batch_rows: int,
    n_batches: int,
) -> BatchInputs:
    """Reference rows cycle through ``n_names`` distinct names with a
    random city and country each. Half of every batch copies a random
    reference row with a one-edit name typo (jaro-winkler >= 0.9) and,
    for half of those, a one-edit city typo; the rest are fresh names."""
    rng = random.Random(seed)
    taken: set = set()
    names = unique_names(rng, n_names, taken)
    cities = _cities(rng, n_cities)
    ref_rows = [
        (i, names[i % n_names], rng.choice(cities), rng.choice(COUNTRIES))
        for i in range(n_reference)
    ]
    reference = pd.DataFrame(
        ref_rows, columns=["ref_id", "ref_name", "ref_city", "ref_country"]
    )
    batches, planted = [], []
    for b in range(n_batches):
        rows, truth = [], set()
        for k in range(batch_rows):
            b_id = b * batch_rows + k
            if k % 2 == 0:
                ref_id, name, city, country = rng.choice(ref_rows)
                while True:
                    t_name = typo(rng, name, 1, keep_prefix=4)
                    if jaro_winkler_sim(t_name.lower(), name.lower()) >= 0.9:
                        break
                t_city = typo(rng, city, 1) if rng.random() < 0.5 else city
                if levenshtein_sim(t_city.lower(), city.lower()) < 0.8:
                    t_city = city
                rows.append((b_id, t_name, t_city, country))
                truth.add((b_id, ref_id))
            else:
                (fresh,) = unique_names(rng, 1, taken)
                rows.append((b_id, fresh, rng.choice(cities), rng.choice(COUNTRIES)))
        batches.append(
            pd.DataFrame(rows, columns=["b_id", "b_name", "b_city", "b_country"])
        )
        planted.append(truth)
    return BatchInputs(reference=reference, batches=batches, planted=planted)
