"""Seeded Yandex-Market YML feed generator for the ``feed_convert`` workload.

Follows the shape of ``tools/xml_rehearsal.generate_catalog`` with every
knob fixed and stated, so a seed names one exact feed:

* ``N_CATEGORIES`` categories in a tree of ``N_ROOTS`` roots and depth at
  most ``MAX_DEPTH`` (a root has depth 1); each non-root picks a parent
  uniformly among the earlier categories that are not yet at full depth;
* every offer names a category that exists, so every row has a path;
* ``PARAM_KEYS``: each offer carries these ``<param name=...>`` keys,
  which the converter pivots into one column each;
* 0 to ``MAX_PICTURES`` ``<picture>`` URLs per offer;
* one ``<stock>`` block (quantity with a unit attribute, warehouse).

``expected_paths`` is the pure-Python parent walk the output check
compares ``category_path`` against.
"""

from __future__ import annotations

import random

N_CATEGORIES = 240
N_ROOTS = 8
MAX_DEPTH = 6
PARAM_KEYS = ("Цвет", "Размер", "Материал", "Вес")
MAX_PICTURES = 3
PATH_SEP = "///"
# What the converter writes for this feed shape: both offer attributes
# (as attr_* and the reference's plain ``available``), the scalar child
# tags, ``pictures`` joined from the <picture> URLs, the <stock> block
# hoisted to quantity/quantity_unit/warehouse, the category path, and
# one column per param key; the CSV sink sorts them lexicographically.
OUTPUT_COLUMNS = (
    "attr_available", "attr_id", "available", "categoryId", "category_path",
    "currencyId", "description", "name", "pictures", "price", "quantity",
    "quantity_unit", "vendor", "warehouse",
)

_COLORS = ("Синий", "Красный", "Зелёный", "Белый", "Чёрный")
_MATERIALS = ("дуб", "сталь", "пластик", "ткань", "стекло")

_OFFER = (
    '<offer id="{oid}" available="{avail}">'
    "<name>Item {oid} model-{mod}</name>"
    "<price>{price}</price><currencyId>RUR</currencyId>"
    "<categoryId>{cat}</categoryId>"
    "<vendor>Vendor{vendor}</vendor>"
    "{pics}"
    "<description>&lt;div&gt;Solid &lt;b&gt;item&lt;/b&gt; {oid} with long "
    "description text to pad realistic catalog byte sizes; materials, "
    "dimensions and care instructions included.&lt;/div&gt;</description>"
    '<param name="Цвет">{color}</param>'
    '<param name="Размер">{size}x{size2}</param>'
    '<param name="Материал">{material}</param>'
    '<param name="Вес">{weight}</param>'
    '<stock><quantity unit="pcs">{qty}</quantity>'
    "<warehouse>WH{wh}</warehouse></stock>"
    "</offer>\n"
)


def expected_header() -> list[str]:
    return sorted(OUTPUT_COLUMNS + PARAM_KEYS)


def category_tree(rng: random.Random) -> dict[int, int | None]:
    """id -> parent id (None for a root), ids 1..N_CATEGORIES."""
    parent: dict[int, int | None] = {}
    depth: dict[int, int] = {}
    open_ids: list[int] = []  # ids that may still take a child
    for c in range(1, N_CATEGORIES + 1):
        if c <= N_ROOTS:
            parent[c], depth[c] = None, 1
        else:
            p = open_ids[rng.randrange(len(open_ids))]
            parent[c], depth[c] = p, depth[p] + 1
        if depth[c] < MAX_DEPTH:
            open_ids.append(c)
    return parent


def category_name(c: int) -> str:
    return f"Cat{c}"


def expected_paths(parent: dict[int, int | None]) -> dict[str, str]:
    """categoryId -> root-to-leaf names joined by ``PATH_SEP``."""
    out = {}
    for c in parent:
        names, cur = [], c
        while cur is not None:
            names.append(category_name(cur))
            cur = parent[cur]
        out[str(c)] = PATH_SEP.join(reversed(names))
    return out


def write_feed(path: str, seed: int, n_offers: int) -> dict[str, str]:
    """Write the feed for ``seed`` and return the id -> category_path map
    of the offers written (offer ids are 1..n_offers)."""
    rng = random.Random(seed)
    parent = category_tree(rng)
    paths = expected_paths(parent)
    offer_paths = {}
    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        f.write('<yml_catalog date="2026-01-01">\n<shop><name>Bench</name>\n')
        f.write("<categories>\n")
        for c, p in parent.items():
            attr = "" if p is None else f' parentId="{p}"'
            f.write(f'<category id="{c}"{attr}>{category_name(c)}</category>\n')
        f.write("</categories>\n<offers>\n")
        for oid in range(1, n_offers + 1):
            cat = rng.randint(1, N_CATEGORIES)
            offer_paths[str(oid)] = paths[str(cat)]
            pics = "".join(
                f"<picture>http://cdn.example/img/{oid}_{i}.jpg</picture>"
                for i in range(rng.randint(0, MAX_PICTURES))
            )
            f.write(
                _OFFER.format(
                    oid=oid,
                    avail=rng.randint(0, 1),
                    mod=rng.randint(1, 9999),
                    price=f"{rng.uniform(100, 99999):.2f}",
                    cat=cat,
                    vendor=rng.randint(1, 200),
                    pics=pics,
                    color=rng.choice(_COLORS),
                    size=rng.randint(40, 240),
                    size2=rng.randint(40, 240),
                    material=rng.choice(_MATERIALS),
                    weight=rng.randint(1, 90),
                    qty=rng.randint(0, 50),
                    wh=rng.randint(1, 8),
                )
            )
        f.write("</offers></shop></yml_catalog>\n")
    return offer_paths
