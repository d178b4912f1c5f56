"""The book: entries posted against accounts."""

import functools
import logging
from contextlib import contextmanager
from typing import Iterable, List, NamedTuple, Tuple

from .accounts import Account

log = logging.getLogger(__name__)
_POSTED_TOTAL = 0


class Entry(NamedTuple):
    debit: str
    credit: str
    cents: int
    memo: str = ""


class UnbalancedError(ValueError):
    pass


def _audited(fn):
    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        log.debug("calling %s", fn.__name__)
        result = fn(self, *args, **kwargs)
        self.audit_trail.append(fn.__name__)
        return result

    return wrapper


class Book:
    """Holds accounts and the posted journal."""

    def __init__(self, accounts: Iterable[Account] = ()):
        self.accounts = {a.name: a for a in accounts}
        self.journal: List[Entry] = []
        self.audit_trail: List[str] = []

    @_audited
    def post(self, entry: Entry) -> None:
        global _POSTED_TOTAL
        if entry.cents <= 0:
            raise UnbalancedError(f"non-positive amount: {entry.cents}")
        self.accounts[entry.debit].apply(entry.cents)
        self.accounts[entry.credit].apply(-entry.cents)
        self.journal.append(entry)
        _POSTED_TOTAL += 1
        self.on_post(entry)

    def on_post(self, entry: Entry) -> None:
        """Hook for subclasses. For example::

            def on_post(self, entry):
                notify(entry)
        """

    @staticmethod
    def parse_line(line: str) -> Entry:
        debit, credit, cents, *rest = line.split(",")
        return Entry(debit.strip(), credit.strip(), int(cents), ",".join(rest).strip())

    @classmethod
    def from_lines(cls, accounts, lines: Iterable[str]) -> "Book":
        book = cls(accounts)
        for line in lines:
            book.post(cls.parse_line(line))
        return book

    @functools.lru_cache(maxsize=128)
    def account_names(self) -> Tuple[str, ...]:
        return tuple(sorted(self.accounts))

    @contextmanager
    def transaction(self):
        mark = len(self.journal)
        try:
            yield self
        except Exception:
            for entry in reversed(self.journal[mark:]):
                self.accounts[entry.debit].apply(-entry.cents)
                self.accounts[entry.credit].apply(entry.cents)
            del self.journal[mark:]
            raise

    def trial_balance(self) -> int:
        def signed(account: Account) -> int:
            return account.balance * account.kind.sign

        return sum(signed(a) for a in self.accounts.values())


def post_many(book: Book, entries: Iterable[Entry]) -> int:
    count = 0
    with book.transaction():
        for entry in entries:
            book.post(entry)
            count += 1
    return count
