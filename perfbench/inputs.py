"""Seeded input generators. The same seed gives the same inputs; the
program sees only what these produce: the tag pages a fetcher serves,
the post-detail rows, and the JSON documents landed for streaming.
"""

from __future__ import annotations

import json
import os
import random
import string
from dataclasses import dataclass

# caption vocabulary: content words and stopwords in both languages the
# topics enrichment handles, hashtags and emoji
EN_WORDS = (
    "tacos sunset beach coffee street market friends weekend burrito salsa "
    "breakfast ocean dinner spicy fresh music festival skyline morning road "
    "trip family garden bakery churros grilled seafood night lights city"
).split()
ES_WORDS = (
    "comida playa atardecer cafe mercado amigos fin semana picante fresco "
    "musica fiesta cielo manana camino viaje familia jardin panaderia "
    "mariscos noche luces ciudad sabor delicioso calle antojitos tortillas"
).split()
EN_STOP = "the and of to in is for with on at from this that my our".split()
ES_STOP = "el la de que y en los se del las un por con una para es mi".split()
HASHTAGS = (
    "#tijuana #tacos #foodie #instafood #viaje #comida #travel #sunset "
    "#mexico #yummy #playa #streetfood"
).split()
EMOJI = ("\U0001F32E", "\U0001F525", "❤️", "✨", "\U0001F334", "\U0001F4F8", "\U0001F60B")

POST_ID_BASE = 3_000_000_000_000_000_000  # 19 digits: string order == numeric order

# Traffic shape. These figures are assumed, not measured: neither the
# reference scraper nor the repository records real scrape or corpus
# traffic. PAGES matches the sizing pass's 100-page tick.
PAGES = 100  # tag pages per ingest tick
POSTS_PER_PAGE = 3
RESEEN_SHARE = 1 / 3  # share of a tick's posts seen in earlier ticks
N_USERS = 400  # authors, Zipf-skewed (exponent USER_SKEW)
USER_SKEW = 1.1
DOCS = 2000  # documents landed per streaming tick
PLANTED_SHARE = 0.3  # share of them that are near-duplicates of history
FILES = 4  # JSON files per landed tick

DETAIL_DDL = (
    "shortcode string, data struct<shortcode_media: struct<"
    "owner: struct<id: string, username: string, full_name: string, "
    "profile_pic_url: string, edge_followed_by: struct<count: bigint>, "
    "edge_owner_to_timeline_media: struct<count: bigint>>, "
    "location: struct<id: string, name: string, slug: string, "
    "has_public_page: boolean, address_json: string>>>"
)
DOC_DDL = "doc_id LONG, text STRING"


def caption(rng: random.Random) -> str:
    spanish = rng.random() < 0.5
    words, stop = (ES_WORDS, ES_STOP) if spanish else (EN_WORDS, EN_STOP)
    other = EN_WORDS if spanish else ES_WORDS
    toks = []
    for _ in range(rng.randint(6, 16)):
        r = rng.random()
        toks.append(rng.choice(stop if r < 0.35 else other if r < 0.45 else words))
    toks += rng.sample(HASHTAGS, rng.randint(1, 3))
    toks += [rng.choice(EMOJI) for _ in range(rng.randint(0, 2))]
    rng.shuffle(toks)
    return " ".join(toks)


@dataclass
class TagTick:
    hashtags: tuple[str, ...]
    pages: dict[str, str]  # url -> page html
    details: list[tuple]  # rows for DETAIL_DDL
    new_ids: list[str]


class TagFeed:
    """Hashtag-scrape traffic. Each tick serves PAGES tag pages of
    POSTS_PER_PAGE posts. From the second tick on, RESEEN_SHARE of a
    tick's posts are drawn from earlier ticks, as top posts reappear
    across scrapes; the rest are new, with ids that increase by tick.
    Authors are Zipf-skewed over N_USERS, so the users upsert sees
    repeated keys within and across ticks."""

    def __init__(self, seed: int):
        self._rng = random.Random(f"tags-{seed}")
        self._user_weights = [1.0 / (i + 1) ** USER_SKEW for i in range(N_USERS)]
        self._history: list[dict] = []
        self._next = 0
        self._tick = 0
        self.ids_committed = 0

    def _new_post(self) -> dict:
        rng = self._rng
        pid = str(POST_ID_BASE + self._next)
        self._next += rng.randint(1, 50)
        return {
            "id": pid,
            "shortcode": "".join(rng.choices(string.ascii_letters + string.digits + "_-", k=11)),
            "user": rng.choices(range(len(self._user_weights)), self._user_weights)[0],
            "likes": rng.randint(0, 5000),
            "comments": rng.randint(0, 300),
            "caption": caption(rng),
            "typename": rng.choice(("GraphImage", "GraphSidecar", "GraphVideo")),
        }

    def next_tick(self) -> TagTick:
        rng = self._rng
        t = self._tick
        n = PAGES * POSTS_PER_PAGE
        n_seen = round(n * RESEEN_SHARE) if self._history else 0
        posts = rng.sample(self._history, n_seen) + [self._new_post() for _ in range(n - n_seen)]
        new = posts[n_seen:]
        rng.shuffle(posts)
        self._history.extend(new)
        self.ids_committed += len(new)
        self._tick += 1

        tags = tuple(f"t{t}p{i}" for i in range(PAGES))
        pages = {}
        for i, tag in enumerate(tags):
            chunk = posts[i * POSTS_PER_PAGE:(i + 1) * POSTS_PER_PAGE]
            pages[f"https://www.instagram.com/explore/tags/{tag}/"] = tag_page_html(chunk)
        details = [
            (p["shortcode"], ((
                (f"u{p['user']}", f"user{p['user']}", f"User {p['user']}",
                 f"https://cdn.example/u/{p['user']}.jpg",
                 (1000 + 7 * p["user"] + t,), (50 + p["user"] % 90 + t,)),
                None,
            ),))
            for p in posts
        ]
        return TagTick(tags, pages, details, [p["id"] for p in new])


def tag_page_html(posts: list[dict]) -> str:
    """A tag page in the reference's shape: ``window._sharedData`` with
    ``entry_data.TagPage[0].graphql``."""
    edges = [
        {"node": {
            "id": p["id"],
            "shortcode": p["shortcode"],
            "thumbnail_src": f"https://cdn.example/p/{p['shortcode']}.jpg",
            "accessibility_caption": "Photo shared on Instagram",
            "__typename": p["typename"],
            "edge_media_preview_like": {"count": p["likes"]},
            "edge_media_to_comment": {"count": p["comments"]},
            "edge_media_to_caption": {"edges": [{"node": {"text": p["caption"]}}]},
        }}
        for p in posts
    ]
    shared = {"entry_data": {"TagPage": [{"graphql": {"hashtag": {"edge_hashtag_to_media": {"edges": edges}}}}]}}
    return (
        "<html><head><script type=\"text/javascript\">window._sharedData = "
        + json.dumps(shared)
        + ";</script></head><body><main>tag page</main></body></html>"
    )


def _syllable_vocab(rng: random.Random, n: int) -> list[str]:
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(cons) + rng.choice(vows) for _ in range(rng.randint(2, 4))))
    return sorted(words)


@dataclass
class DocTick:
    docs: list[tuple[int, str]]
    planted: list[int]  # ids of planted near-duplicates
    originals: list[int]


class DocFeed:
    """Corpus traffic for streaming near-dedup. Each tick lands DOCS
    documents of 20-60 words from a 6,000-word vocabulary (both assumed).
    From the second tick on, PLANTED_SHARE of them are near-duplicates of
    earlier ticks' original documents (one word appended, replaced or
    dropped); the rest share no 3-word shingle with anything. Ids
    increase by tick."""

    def __init__(self, seed: int):
        self._rng = random.Random(f"docs-{seed}")
        self._vocab = _syllable_vocab(self._rng, 6000)
        self._history: list[tuple[int, list[str]]] = []
        self._next = 0

    def _fresh(self) -> list[str]:
        return self._rng.choices(self._vocab, k=self._rng.randint(20, 60))

    def _near_copy(self, words: list[str]) -> list[str]:
        rng = self._rng
        out = list(words)
        edit = rng.randrange(3)
        if edit == 0:
            out.append(rng.choice(self._vocab))
        elif edit == 1:
            out[rng.randrange(len(out))] = rng.choice(self._vocab)
        else:
            del out[rng.randrange(len(out))]
        return out

    def next_tick(self) -> DocTick:
        rng = self._rng
        n_planted = round(DOCS * PLANTED_SHARE) if self._history else 0
        sources = rng.sample(self._history, n_planted)
        rows, planted, originals = [], [], []
        kinds = [True] * n_planted + [False] * (DOCS - n_planted)
        rng.shuffle(kinds)
        fresh = []
        for is_planted in kinds:
            did = self._next
            self._next += 1
            if is_planted:
                words = self._near_copy(sources.pop()[1])
                planted.append(did)
            else:
                words = self._fresh()
                originals.append(did)
                fresh.append((did, words))
            rows.append((did, " ".join(words)))
        self._history.extend(fresh)
        return DocTick(rows, planted, originals)


def land_docs(landing_dir: str, tick: int, docs: list[tuple[int, str]]) -> None:
    """Write one tick's documents as JSON-lines files into the landing
    directory, each renamed into place once complete."""
    os.makedirs(landing_dir, exist_ok=True)
    for f in range(FILES):
        part = docs[f::FILES]
        final = os.path.join(landing_dir, f"tick-{tick:05d}-{f}.json")
        tmp = os.path.join(os.path.dirname(landing_dir), f".tick-{tick:05d}-{f}.json")
        with open(tmp, "w", encoding="utf-8") as out:
            for did, text in part:
                out.write(json.dumps({"doc_id": did, "text": text}) + "\n")
        os.replace(tmp, final)


# -- analytics tables -----------------------------------------------------------
# Tables for the query mix, written as parquet for ``load_table``. Schemas,
# row counts and value shapes follow the repository's sf0.01 test tables
# (TESTDATA.md): uniform words from a small vocabulary with 5% of
# documents a copy of an earlier one plus " dup", "adjective noun" part
# names.

QUERY_ROWS = {"documents": 500, "part": 2_000}
DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
DOC_LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.15), ("de", 0.14), ("fr", 0.12))
DOC_DUP_SHARE = 0.05
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")


def _documents(rng: random.Random) -> dict[str, list]:
    texts: list[str] = []
    for _ in range(QUERY_ROWS["documents"]):
        if texts and rng.random() < DOC_DUP_SHARE:
            texts.append(rng.choice(texts) + " dup")
        else:
            texts.append(" ".join(rng.choices(DOC_WORDS, k=rng.randint(10, 99))))
    langs, weights = zip(*DOC_LANGS)
    return {
        "doc_id": list(range(len(texts))),
        "text": texts,
        "lang": rng.choices(langs, weights, k=len(texts)),
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": [len(t) for t in texts],
    }


def _part(rng: random.Random) -> dict[str, list]:
    n = QUERY_ROWS["part"]
    return {
        "p_partkey": list(range(n)),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n)],
        "p_type": [rng.choice(PART_TYPES) for _ in range(n)],
        "p_size": [rng.randint(1, 50) for _ in range(n)],
        "p_retailprice": [round(900 + 0.1 * i, 2) for i in range(n)],
    }


def write_query_tables(out_dir: str, seed: int) -> None:
    """Write documents/part as ``<name>.parquet`` into
    ``out_dir``, the layout ``sources.tables.load_table`` reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schemas = {
        "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                                ("source", pa.string()), ("n_chars", pa.int64())]),
        "part": pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
                           ("p_type", pa.string()), ("p_size", pa.int32()),
                           ("p_retailprice", pa.float64())]),
    }
    makers = {"documents": _documents, "part": _part}
    os.makedirs(out_dir, exist_ok=True)
    for name, make in makers.items():
        cols = make(random.Random(f"{name}-{seed}"))
        pq.write_table(pa.table(cols, schema=schemas[name]), os.path.join(out_dir, f"{name}.parquet"))
