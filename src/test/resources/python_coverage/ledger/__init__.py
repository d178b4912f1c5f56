"""Ledger: a tiny double-entry bookkeeping library.

Usage::

    from ledger import Book

    class MyBook(Book):
        def on_post(self, entry):
            print(entry)
"""

from .accounts import Account, AccountKind
from .book import Book, post_many
from .client import RateClient

__version__ = "0.3.1"
__all__ = ["Account", "AccountKind", "Book", "post_many", "RateClient"]
