\set ON_ERROR_STOP
\set ECHO all
BEGIN;
CREATE INDEX ix_orderheader_customer ON sales.orderheader (customerid, orderedat DESC) INCLUDE (amount, status) WHERE (status IS NOT NULL);
ALTER TABLE public.customer ALTER COLUMN createdat SET DEFAULT CURRENT_TIMESTAMP;
ALTER TABLE public.customer ALTER COLUMN rowguid SET DEFAULT gen_random_uuid();
ALTER TABLE sales.orderheader ADD CONSTRAINT ck_orderheader_amount CHECK ((amount>=(0) AND status<>'X'));
ALTER TABLE sales.orderline ADD CONSTRAINT ck_orderline_qty CHECK ((qty>(0)));
CREATE VIEW public.activecustomers AS SELECT customerid, firstname || ' ' || lastname AS displayname,
  COALESCE(email, 'none') AS email, CAST(createdat AS varchar(10)) AS since
FROM public.customer WHERE isactive = 1;
COMMIT;
