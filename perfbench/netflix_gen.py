"""Seeded generator of a Netflix-catalog-shaped CSV (the ingest format
of ``NetflixPipeline``), with the edge cases the ETL must handle:

- quoted commas, doubled quotes and embedded newlines;
- ``date_added`` with a leading space, and NULL dates;
- rows with a NULL director together with a NULL cast;
- a name repeated within one cast list (a duplicate crew row);
- single-token names (``Cher``);
- one featured person who appears in several shows next to a fixed
  co-star (the ``shows_featuring`` / ``frequent_costars`` queries).

The generator counts the star-schema rows as it writes, so the
benchmark can check the ETL's output against counts known by
construction. The same ``(rows, seed)`` always gives the same file.
"""

from __future__ import annotations

import csv
import random
from dataclasses import dataclass

HEADER = (
    "show_id", "type", "title", "director", "cast", "country", "date_added",
    "release_year", "rating", "duration", "listed_in", "description",
)
FEATURED = "Marlowe Quince"
COSTAR = "Ada Brightwater"

_FIRST = (
    "James Mary Robert Patricia John Jennifer Michael Linda David Elizabeth "
    "William Barbara Richard Susan Joseph Jessica Thomas Sarah Charles Karen "
    "Daniel Nancy Matthew Lisa Anthony Betty Mark Sandra Paul Ashley Steven "
    "Emily Andrew Donna Kenji Yuki Priya Arjun Chen Mei Olu Amara Sasha "
    "Noor Rowan Quill Tavi Zephyr Ilka Oren"
).split()
_LAST = (
    "Smith Johnson Williams Brown Jones Garcia Miller Davis Rodriguez Martinez "
    "Hernandez Lopez Gonzalez Wilson Anderson Thomas Taylor Moore Jackson "
    "Martin Lee Perez Thompson White Harris Sanchez Clark Ramirez Lewis "
    "Robinson Walker Young Allen King Wright Scott Torres Nguyen Hill Flores "
    "Tanaka Sato Kapoor Okafor Ivanova Novak Haddad Lindqvist"
).split()
_SINGLE = ("Cher", "Madonna", "Zendaya", "Prince", "Bjork", "Sting")
_WORDS = (
    "night city love war home lost last dark secret river star road heart "
    "dream king queen world time blood fire ghost summer winter house game "
    "story girl boy family life journey island shadow light storm edge"
).split()
_COUNTRIES = (
    "United States", "India", "United Kingdom", "Japan", "South Korea",
    "France", "Spain", "Canada", "Mexico", "Nigeria", "Brazil", "Germany",
)
_GENRES = (
    "Dramas", "Comedies", "International Movies", "Documentaries",
    "Action & Adventure", "TV Dramas", "Kids' TV", "Thrillers",
    "Romantic Movies", "Horror Movies", "Stand-Up Comedy", "Docuseries",
)
_RATINGS = ("TV-MA", "TV-14", "TV-PG", "R", "PG-13", "PG", "TV-Y", "NR")
_MONTHS = (
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
)


@dataclass(frozen=True)
class Expected:
    """Star-table row counts the ETL must produce from the file."""

    shows: int
    personnel: int
    movie_crew: int
    listings: int
    no_crew_shows: int


def _names(rng: random.Random, pool: list[str], k: int) -> list[str]:
    # Skewed draw: the first names of the pool recur across many shows.
    if rng.random() < 0.3:
        return rng.choices(pool[:200], k=k)
    return rng.choices(pool, k=k)


def _text(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(_WORDS, k=n))


def generate(path: str, rows: int, seed: int) -> Expected:
    """Write ``rows`` shows to ``path``; return the expected counts."""
    rng = random.Random(seed)
    pool = [f"{f} {a}" for f in _FIRST for a in _LAST]
    pool += [f"{f} {a}-{b}" for f in _FIRST for a in _LAST for b in _LAST if a != b]
    rng.shuffle(pool)
    pool = pool[: max(50, rows * 3 // 2)] + list(_SINGLE)
    featured_rows = set(rng.sample(range(rows), min(rows, 12)))
    people: set[str] = set()
    crew = listings = no_crew = 0
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL, doublequote=True)
        w.writerow(HEADER)
        for i in range(rows):
            is_movie = rng.random() < 0.7
            director = None if rng.random() < 0.3 else _names(rng, pool, 1 + (rng.random() < 0.15))
            cast = None if rng.random() < 0.09 else _names(rng, pool, rng.randint(1, 10))
            if i in featured_rows:
                cast = (cast or []) + [FEATURED, COSTAR]
            if cast and rng.random() < 0.01:
                cast.append(cast[0])  # the same name twice in one row
            if director is None and cast is None:
                no_crew += 1
            for names in (director, cast):
                if names:
                    crew += len(names)
                    people.update(names)
            genres = rng.sample(_GENRES, rng.randint(1, 3))
            listings += len(genres)
            title = _text(rng, rng.randint(1, 4)).title()
            if rng.random() < 0.05:
                title += ", Part " + str(rng.randint(2, 9))
            if rng.random() < 0.02:
                title = f'The "{title}" Story'
            release = rng.randint(1925, 2021)
            date = None
            if rng.random() >= 0.01:
                date = f"{rng.choice(_MONTHS)} {rng.randint(1, 28)}, {rng.randint(max(release, 2008), 2021)}"
                if rng.random() < 0.01:
                    date = " " + date
            desc = _text(rng, rng.randint(8, 25)) + ", " + _text(rng, rng.randint(3, 8)) + "."
            if rng.random() < 0.01:
                desc += "\n" + _text(rng, 5) + "."
            w.writerow((
                f"s{i + 1}",
                "Movie" if is_movie else "TV Show",
                title,
                ", ".join(director) if director else None,
                ", ".join(cast) if cast else None,
                ", ".join(rng.sample(_COUNTRIES, rng.randint(1, 2))),
                date,
                release,
                None if rng.random() < 0.002 else rng.choice(_RATINGS),
                f"{rng.randint(60, 180)} min" if is_movie else f"{rng.randint(1, 9)} Season{'s' if rng.random() < 0.6 else ''}",
                ", ".join(genres),
                desc,
            ))
    return Expected(shows=rows, personnel=len(people), movie_crew=crew,
                    listings=listings, no_crew_shows=no_crew)
