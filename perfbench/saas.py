"""Seeded synthetic SaaS APIs for the replication night, with the state a
correct night must leave behind.

``World`` holds the upstream records of four entities and serves them
through one transport callable ``(url, params) -> payload`` speaking each
entity's pagination protocol, the shapes the manifest entries in
``jobs.entities`` declare:

- Bexio orders: offset/limit pages of nested orders (``positions`` array);
- Billwerk customers: keyset pages (``from`` re-includes the cursor row)
  with an ``Address`` struct and a ``CustomFields`` map;
- Stripe charges: ``starting_after`` pages wrapped in ``data``/``has_more``;
- Billwerk invoices: keyset pages of an append-only log, read
  incrementally from a persisted watermark.

``advance()`` moves the world one night forward: it changes a
recency-skewed share of records (newer records change more often),
empties some orders' position arrays, appends new records, and draws the
night's late correction batch, a few rows of which are invalid. Every
draw comes from ``(seed, night)``, so a seed fixes the whole sequence.
"""

from __future__ import annotations

import bisect

import numpy as np

BEXIO_URL = "https://api.bexio.com/2.0/kb_order"
CUSTOMERS_URL = "https://app.billwerk.com/api/v1/customers"
CHARGES_URL = "https://api.stripe.com/v1/charges"
INVOICES_URL = "https://app.billwerk.com/api/v1/invoices"

INVOICE_STATUSES = ("open", "paid", "void")
# The nightly mix below is an assumption, not a measurement: no source in
# the repository gives the reference's change, growth or error rates.
CHANGE_SHARE = 0.05  # records changed per night, recency-skewed
EMPTY_SHARE = 0.01  # orders whose positions vanish per night
GROWTH_SHARE = 0.02  # new records per night


def invoice_row(i: int) -> tuple[int, float, str]:
    """The invoice log's deterministic content for id ``i``."""
    return i, round((i * 7919 % 100_000) / 100.0, 2), INVOICE_STATUSES[i % 3]


class World:
    def __init__(self, seed: int, orders: int, customers: int, charges: int,
                 invoices: int, invoices_per_night: int, corrections: int):
        self.seed = seed
        self.invoices_per_night = invoices_per_night
        self.n_corrections = corrections
        self.night = 0
        rng = self._rng()
        self.orders: dict[int, dict] = {}
        for i in range(orders):
            self.orders[i] = self._order(rng, i)
        self.customers = {f"c{i:07d}": self._customer(rng, i) for i in range(customers)}
        self.charges = {f"ch_{i:08d}": self._charge(rng, i) for i in range(charges)}
        #: invoice ids [0, invoice_hi) exist upstream; [0, seeded) are the
        #: table seeded at set-up, the rest arrive through the watermark job
        self.seeded_invoices = invoices
        self.invoice_hi = invoices
        self.valid_corrections = 0
        self.history_pairs: set[tuple[int, int]] = set()
        self.quarantined: set[int] = set()
        self.corrections: list[tuple] = []
        self.new_pairs = 0
        self._keys: dict[str, list] = {}

    def _rng(self):
        return np.random.default_rng([self.seed, self.night])

    # -- record shapes ------------------------------------------------------

    @staticmethod
    def _order(rng, i: int) -> dict:
        n_pos = int(rng.integers(1, 6))
        positions = [
            {
                "id": i * 10 + k,
                "type": "KbPositionCustom" if k else "KbPositionDiscount",
                "amount": str(int(rng.integers(1, 20))),
                "unit_price": f"{rng.uniform(5, 500):.2f}",
                "position_total": f"{rng.uniform(5, 5000):.2f}",
                "text": f"item {k} of order {i}",
                "discount_in_percent": "0",
            }
            for k in range(n_pos)
        ]
        total = rng.uniform(10, 10_000)
        return {
            "id": i,
            "contact_id": int(rng.integers(0, 400)),
            "user_id": int(rng.integers(0, 20)),
            "kb_item_status_id": int(rng.integers(1, 8)),
            "document_nr": f"AB-{i:06d}",
            "title": f"Order {i}",
            "total_gross": f"{total * 1.19:.2f}",
            "total_net": f"{total:.2f}",
            "total_taxes": f"{total * 0.19:.2f}",
            "total": f"{total * 1.19:.2f}",
            "mwst_type": 0,
            "mwst_is_net": True,
            "is_valid_from": "2024-01-01",
            "delivery_address_type": 0,
            "is_recurring": False,
            "updated_at": "2024-01-01 00:00:00",
            "taxs": [{"percentage": "19.0", "value": f"{total * 0.19:.2f}"}],
            "positions": positions,
        }

    @staticmethod
    def _customer(rng, i: int) -> dict:
        return {
            "Id": f"c{i:07d}",
            "CreatedAt": "2024-01-01T00:00:00",
            "IsDeletable": bool(rng.integers(0, 2)),
            "IsLocked": False,
            "CustomerName": f"Customer {i}",
            "CompanyName": f"Company {int(rng.integers(0, 400))}",
            "FirstName": "Ada",
            "LastName": f"L{i}",
            "Language": "de-DE",
            "EmailAddress": f"c{i}@example.com",
            "Address": {
                "Street": "Main", "HouseNumber": str(int(rng.integers(1, 200))),
                "City": "Berlin", "Country": "DE",
            },
            "Locale": "de-DE",
            "CustomFields": {"tier": str(int(rng.integers(0, 3))), "region": "eu"},
            "Hidden": False,
        }

    @staticmethod
    def _charge(rng, i: int) -> dict:
        return {
            "id": f"ch_{i:08d}",
            "amount": int(rng.integers(100, 100_000)),
            "currency": "eur",
            "customer": f"cus_{int(rng.integers(0, 500)):05d}",
            "description": f"charge {i}",
            "status": "succeeded",
            "paid": True,
            "refunded": False,
            "created": 1_700_000_000 + i * 60,
        }

    # -- the night's changes ------------------------------------------------

    @staticmethod
    def _recent(rng, keys: list, share: float) -> list:
        """A recency-skewed sample: key rank r (0 = oldest) is drawn with
        weight proportional to exp(4 r / n)."""
        n = len(keys)
        k = max(1, int(n * share))
        w = np.exp(4.0 * np.arange(n) / n)
        idx = rng.choice(n, size=k, replace=False, p=w / w.sum())
        return [keys[i] for i in sorted(idx)]

    def _sorted(self, name: str) -> list:
        """Sorted keys of one entity, cached until the world advances, so
        that serving a page costs a slice, not a sort."""
        if name not in self._keys:
            self._keys[name] = sorted(getattr(self, name))
        return self._keys[name]

    def advance(self) -> None:
        self.night += 1
        self._keys.clear()
        rng = self._rng()
        ids = sorted(self.orders)
        for i in self._recent(rng, ids, CHANGE_SHARE):
            o = self._order(rng, i)
            o["kb_item_status_id"] = int(rng.integers(1, 8))
            self.orders[i] = o
        for i in self._recent(rng, ids, EMPTY_SHARE):
            self.orders[i]["positions"] = []
        nxt = ids[-1] + 1
        for i in range(nxt, nxt + max(1, int(len(ids) * GROWTH_SHARE))):
            self.orders[i] = self._order(rng, i)
        pairs = {(o["id"], o["kb_item_status_id"]) for o in self.orders.values()}
        self.new_pairs = len(pairs - self.history_pairs)
        self.history_pairs |= pairs

        ckeys = sorted(self.customers)
        for c in self._recent(rng, ckeys, CHANGE_SHARE):
            cust = self.customers[c]
            cust["CustomFields"] = {"tier": str(int(rng.integers(0, 3))), "region": "eu"}
            cust["IsLocked"] = bool(rng.integers(0, 2))
        base = len(ckeys)
        for i in range(base, base + max(1, int(base * GROWTH_SHARE))):
            self.customers[f"c{i:07d}"] = self._customer(rng, i)

        chkeys = sorted(self.charges)
        for c in self._recent(rng, chkeys, CHANGE_SHARE):
            self.charges[c]["status"] = str(rng.choice(["refunded", "disputed", "succeeded"]))
            self.charges[c]["refunded"] = self.charges[c]["status"] == "refunded"
        base = len(chkeys)
        for i in range(base, base + max(1, int(base * GROWTH_SHARE))):
            self.charges[f"ch_{i:08d}"] = self._charge(rng, i)

        self.invoice_hi += self.invoices_per_night
        # late corrections land on the newest 5% of invoices; two in 50
        # (4%, also an assumption) are invalid: negative amount or
        # unknown status
        window = max(self.n_corrections, self.invoice_hi // 20)
        picked = rng.choice(window, size=self.n_corrections, replace=False)
        rows = []
        for j, off in enumerate(sorted(picked)):
            inv = self.invoice_hi - window + int(off)
            amount = round(float(rng.uniform(1, 1000)), 2)
            status = str(rng.choice(INVOICE_STATUSES))
            if j % 50 == 7:
                amount = -amount
            elif j % 50 == 31:
                status = "lost"
            rows.append((inv, amount, status))
        self.corrections = rows
        bad = {r[0] for r in rows if r[1] < 0 or r[2] == "lost"}
        self.valid_corrections = len(rows) - len(bad)
        self.quarantined |= bad

    # -- expected warehouse state after this night ---------------------------

    def expected(self) -> dict[str, int]:
        return {
            "bexio_orders": len(self.orders),
            "bexio_positions": sum(len(o["positions"]) for o in self.orders.values()),
            "billwerk_customers": len(self.customers),
            "stripe_charges": len(self.charges),
            "invoices": self.invoice_hi,
            "history": len(self.history_pairs),
            "history_appended": self.new_pairs,
            "quarantine": len(self.quarantined),
            "feed_insert": self.invoices_per_night,
            "feed_update": self.valid_corrections,
            "companies": len({o["contact_id"] for o in self.orders.values()}),
        }

    # -- the transport --------------------------------------------------------

    def transport(self, url: str, params: dict):
        if url == BEXIO_URL:
            ids = self._sorted("orders")
            lo = params["offset"]
            return [self.orders[i] for i in ids[lo: lo + params["limit"]]]
        if url == CUSTOMERS_URL:
            return self._keyset(self._sorted("customers"), self.customers, params)
        if url == INVOICES_URL:
            start = params.get("from")
            lo = 0 if start is None else start
            hi = min(self.invoice_hi, lo + params["take"])
            return [
                dict(zip(("Id", "amount", "status"), invoice_row(i)))
                for i in range(lo, hi)
            ]
        if url == CHARGES_URL:
            keys = self._sorted("charges")
            after = params.get("starting_after")
            lo = 0 if after is None else bisect.bisect_right(keys, after)
            page = keys[lo: lo + params["limit"]]
            return {
                "data": [self.charges[k] for k in page],
                "has_more": lo + len(page) < len(keys),
            }
        raise KeyError(f"no synthetic API at {url}")

    @staticmethod
    def _keyset(keys: list, rows: dict, params: dict) -> list:
        start = params.get("from")
        # the cursor row itself comes back first, as keyset APIs do
        lo = 0 if start is None else bisect.bisect_left(keys, start)
        return [rows[k] for k in keys[lo: lo + params["take"]]]
