import pytest

from ledger.accounts import Account, AccountKind
from ledger.book import Book

CASH = "cash"
SALES = "sales"


@pytest.fixture
def accounts():
    return [Account(CASH, AccountKind.ASSET), Account(SALES, AccountKind.INCOME)]


@pytest.fixture()
def book(accounts):
    return Book(accounts)


@pytest.fixture(scope="session")
def event_loop_policy():
    import asyncio

    return asyncio.DefaultEventLoopPolicy()
