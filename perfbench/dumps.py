"""Seeded synthetic Discogs dumps for the ``discogs_backfill`` workload.

The record shapes scale up the golden release/artist/label/master
documents of ``discogs_etl_spark/queries/etl_roundtrip.py`` to N records.
Text is drawn from a seeded syllable vocabulary, so the gzip ratio looks
like a real dump rather than like a repeated template.  A share of the
records carries the dirty-XML cases the ingest kernel repairs:

- XML-invalid control characters inside titles/names;
- bare ``&`` in free text ("Rock & Roll", "AT&T");
- whitespace runs and newlines inside notes/profiles;
- attribute-less husks (no ``id`` → the kernel's 0 default, empty lists).

File names follow ``discogs_YYYYMMDD_{type}s.xml.gz``.  Releases are the
largest dumps, as in the real monthly exports, and come in three monthly
snapshots so the lake has months to prune.

The generator records, without reparsing, the invariants the lake must
reproduce: rows and sum of ids per entity (and per release month), the
total genre count, and the number of releases tagged Jazz with more
than one genre.  Output is byte-identical for a given seed (gzip
``mtime=0``).
"""

from __future__ import annotations

import gzip
import os
import random
from dataclasses import dataclass, field

# (yyyymmdd, type) of every dump one backfill lands.  Three monthly
# release snapshots plus one dump of each other entity.
DUMP_PLAN = (
    ("20240101", "release"),
    ("20240201", "release"),
    ("20240301", "release"),
    ("20240301", "artist"),
    ("20240301", "label"),
    ("20240301", "master"),
)

# records of each entity per release record in one monthly release dump
ENTITY_SHARE = {"release": 1.0, "artist": 0.5, "label": 0.25, "master": 0.5}

GENRES = (
    "Electronic", "Rock", "Jazz", "Pop", "Funk / Soul", "Hip Hop",
    "Classical", "Reggae", "Latin", "Blues", "Folk, World, & Country",
    "Stage & Screen",
)
STYLES = (
    "House", "Techno", "Punk", "Ambient", "Bop", "Fusion", "Soul-Jazz",
    "Synth-pop", "Dub", "Disco", "Hard Bop", "Downtempo", "Krautrock",
)
FORMATS = ("Vinyl", "CD", "Cassette", "File", "Box Set")
DESCRIPTIONS = ('12"', 'LP', 'Album', 'Single', '7"', 'Compilation', 'Reissue')
COUNTRIES = ("US", "UK", "Germany", "France", "Japan", "Italy", "Netherlands")
QUALITY = ("Correct", "Needs Vote", "Complete and Correct", "Needs Major Changes")
_SYLLABLES = (
    "ka", "lo", "mi", "ra", "zen", "tor", "vel", "quo", "an", "el", "is",
    "dor", "pha", "bu", "chi", "ny", "sol", "tra", "vox", "mar", "gil", "ost",
)
# kernel-repairable dirt, injected into free-text fields
_CONTROL_CHARS = ("\x07", "\x0b", "\x1b", "\x01")
_BARE_AMP = ("Rock & Roll", "AT&T", "R&B", "Drum & Bass")


def dump_name(date: str, data_type: str) -> str:
    return f"discogs_{date}_{data_type}s.xml.gz"


@dataclass
class Invariants:
    """What the lake must hold after a backfill of the generated dumps."""

    rows: dict[str, int] = field(default_factory=dict)
    id_sum: dict[str, int] = field(default_factory=dict)
    release_rows_by_month: dict[str, int] = field(default_factory=dict)
    release_id_sum_by_month: dict[str, int] = field(default_factory=dict)
    genre_count: int = 0  # total genres over all release records
    jazz_multi_genre: int = 0  # releases with Jazz and more than one genre
    xml_bytes: int = 0  # inflated XML bytes over all dumps


@dataclass
class DumpSet:
    paths: list[str]
    invariants: Invariants


class _Text:
    """Seeded word and phrase source."""

    def __init__(self, rng: random.Random, n_words: int = 4000):
        self.rng = rng
        words = set()
        while len(words) < n_words:
            k = rng.randint(2, 4)
            words.add("".join(rng.choice(_SYLLABLES) for _ in range(k)))
        self.words = sorted(words)

    def phrase(self, lo: int, hi: int) -> str:
        n = self.rng.randint(lo, hi)
        return " ".join(self.rng.choice(self.words) for _ in range(n)).title()

    def dirty(self, text: str, p: float = 0.03) -> str:
        """Inject one kernel-repairable defect into ``text`` with
        probability ``p`` per defect kind."""
        r = self.rng
        if r.random() < p:
            cut = r.randint(0, len(text))
            text = text[:cut] + r.choice(_CONTROL_CHARS) + text[cut:]
        if r.random() < p:
            text = f"{text} {r.choice(_BARE_AMP)}"
        if r.random() < p:
            text = text.replace(" ", "  \n   ", 1)
        return text

    def uri(self, kind: str) -> str:
        return f"https://img.example/{kind}/{self.rng.getrandbits(48):012x}.jpg"


def _image(t: _Text) -> str:
    r = t.rng
    h, w = r.choice((150, 300, 600)), r.choice((150, 300, 600))
    return (
        f'<image height="{h}" width="{w}" type="{r.choice(("primary", "secondary"))}" '
        f'uri="{t.uri("R")}" uri150="{t.uri("R150")}"/>'
    )


def _images(t: _Text, hi: int = 2) -> str:
    n = t.rng.randint(0, hi)
    return "<images>" + "".join(_image(t) for _ in range(n)) + "</images>" if n else ""


def _release(t: _Text, rid: int, inv: Invariants, month: str) -> str:
    r = t.rng
    if r.random() < 0.01:  # attribute-less husk: id → 0, lists → []
        inv.rows["release"] += 1
        inv.release_rows_by_month[month] += 1
        return f"<release><title>{t.phrase(1, 3)}</title></release>"
    genres = r.sample(GENRES, r.choice((1, 1, 2, 2, 3)))
    inv.rows["release"] += 1
    inv.id_sum["release"] += rid
    inv.release_rows_by_month[month] += 1
    inv.release_id_sum_by_month[month] += rid
    inv.genre_count += len(genres)
    if "Jazz" in genres and len(genres) > 1:
        inv.jazz_multi_genre += 1
    artists = "".join(
        f"<artist><id>{r.randint(1, 10**6)}</id><name>{t.phrase(1, 2)}</name></artist>"
        for _ in range(r.randint(1, 3))
    )
    labels = "".join(
        f'<label name="{t.phrase(1, 2)}" catno="{t.phrase(1, 1).upper()}-{r.randint(1, 999)}"/>'
        for _ in range(r.randint(1, 2))
    )
    formats = "".join(
        f'<format name="{r.choice(FORMATS)}" qty="{r.randint(1, 3)}"><descriptions>'
        + "".join(f"<description>{d}</description>" for d in r.sample(DESCRIPTIONS, 2))
        + "</descriptions></format>"
        for _ in range(r.randint(1, 2))
    )
    styles = "".join(f"<style>{s}</style>" for s in r.sample(STYLES, r.randint(0, 3)))
    notes = t.dirty(t.phrase(0, 40)) if r.random() < 0.6 else ""
    return (
        f'<release id="{rid}" status="Accepted">{_images(t)}'
        f"<artists>{artists}</artists>"
        f"<title>{t.dirty(t.phrase(1, 5))}</title>"
        f"<labels>{labels}</labels><formats>{formats}</formats>"
        f"<genres>{''.join(f'<genre>{g}</genre>' for g in genres)}</genres>"
        f"<styles>{styles}</styles>"
        f"<country>{r.choice(COUNTRIES)}</country>"
        f"<released>{r.randint(1950, 2023)}-{r.randint(0, 12):02d}-00</released>"
        + (f"<notes>{notes}</notes>" if notes else "")
        + f"<data_quality>{r.choice(QUALITY)}</data_quality></release>"
    )


def _artist(t: _Text, aid: int, inv: Invariants) -> str:
    r = t.rng
    inv.rows["artist"] += 1
    if r.random() < 0.01:
        return f"<artist><name>{t.phrase(1, 2)}</name></artist>"
    inv.id_sum["artist"] += aid
    names = lambda tag, hi: "".join(  # noqa: E731
        f"<{tag}>{t.phrase(1, 2)}</{tag}>" for _ in range(r.randint(0, hi))
    )
    return (
        f"<artist><id>{aid}</id><name>{t.dirty(t.phrase(1, 3))}</name>"
        f"<realname>{t.phrase(2, 3)}</realname>"
        f"<profile>{t.dirty(t.phrase(0, 60))}</profile>"
        f"<data_quality>{r.choice(QUALITY)}</data_quality>"
        f"<namevariations>{names('name', 3)}</namevariations>"
        f"<aliases>{names('name', 2)}</aliases>"
        f"<groups>{names('name', 2)}</groups><members>{names('name', 4)}</members>"
        f"<urls><url>https://{t.phrase(1, 1).lower()}.example</url></urls>"
        f"{_images(t)}</artist>"
    )


def _label(t: _Text, lid: int, inv: Invariants) -> str:
    r = t.rng
    inv.rows["label"] += 1
    if r.random() < 0.01:
        return f"<label><name>{t.phrase(1, 2)}</name></label>"
    inv.id_sum["label"] += lid
    subs = "".join(f"<label>{t.phrase(1, 2)}</label>" for _ in range(r.randint(0, 3)))
    return (
        f"<label><id>{lid}</id><name>{t.dirty(t.phrase(1, 3))}</name>"
        f"<contactinfo>{t.dirty(t.phrase(3, 12))}</contactinfo>"
        f"<profile>{t.dirty(t.phrase(0, 50))}</profile>"
        f"<data_quality>{r.choice(QUALITY)}</data_quality>{_images(t, 1)}"
        f"<urls><url>https://{t.phrase(1, 1).lower()}.example</url></urls>"
        f"<sublabels>{subs}</sublabels></label>"
    )


def _master(t: _Text, mid: int, inv: Invariants) -> str:
    r = t.rng
    # master ids are a REQUIRED attribute, so the husk keeps its id
    inv.rows["master"] += 1
    inv.id_sum["master"] += mid
    if r.random() < 0.01:
        return f'<master id="{mid}"><title>{t.phrase(1, 2)}</title></master>'
    genres = "".join(f"<genre>{g}</genre>" for g in r.sample(GENRES, r.randint(1, 2)))
    videos = "".join(
        f'<video duration="{r.randint(60, 600)}" embed="{r.choice(("true", "false"))}" '
        f'src="https://video.example/{r.getrandbits(40):010x}">'
        f"<title>{t.phrase(1, 4)}</title><description>{t.phrase(0, 8)}</description></video>"
        for _ in range(r.randint(0, 2))
    )
    return (
        f'<master id="{mid}"><main_release>{r.randint(1, 10**7)}</main_release>'
        f"<artists><artist><id>{r.randint(1, 10**6)}</id><name>{t.phrase(1, 2)}</name>"
        f"<anv/><join>&amp;</join><role>Main</role><tracks/></artist></artists>"
        f"<genres>{genres}</genres><styles><style>{r.choice(STYLES)}</style></styles>"
        f"<year>{r.randint(1950, 2023)}</year><title>{t.dirty(t.phrase(1, 4))}</title>"
        f"<data_quality>{r.choice(QUALITY)}</data_quality>{_images(t)}"
        f"<videos>{videos}</videos></master>"
    )


def generate(
    out_dir: str, seed: int, releases_per_dump: int, plan=DUMP_PLAN
) -> DumpSet:
    """Write every dump of ``plan`` into ``out_dir``; returns their paths
    and the invariants a correct backfill reproduces."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    text = _Text(rng)
    inv = Invariants()
    for _, et in plan:
        inv.rows[et] = 0
        inv.id_sum[et] = 0
    next_id = {et: 1 for et in ENTITY_SHARE}
    paths = []
    for date, data_type in plan:
        n = max(1, int(releases_per_dump * ENTITY_SHARE[data_type]))
        month = date[4:6]
        if data_type == "release":
            inv.release_rows_by_month[month] = 0
            inv.release_id_sum_by_month[month] = 0
        root = f"{data_type}s"
        parts = ['<?xml version="1.0" encoding="UTF-8"?>\n', f"<{root}>\n"]
        for _ in range(n):
            i = next_id[data_type]
            # ids are unique per entity but not dense
            next_id[data_type] += rng.randint(1, 9)
            if data_type == "release":
                rec = _release(text, i, inv, month)
            elif data_type == "artist":
                rec = _artist(text, i, inv)
            elif data_type == "label":
                rec = _label(text, i, inv)
            else:
                rec = _master(text, i, inv)
            parts.append(rec + "\n")
        parts.append(f"</{root}>\n")
        xml = "".join(parts).encode("utf-8")
        inv.xml_bytes += len(xml)
        path = os.path.join(out_dir, dump_name(date, data_type))
        with open(path + ".tmp", "wb") as f:
            f.write(gzip.compress(xml, compresslevel=6, mtime=0))
        os.replace(path + ".tmp", path)
        paths.append(path)
    return DumpSet(paths, inv)
